"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (SURVEY.md §2) to callables
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
oracle for each.  Column names are aliased identically on both sides.

Adding a gate: define ``q_<name>`` and its oracle (``ORACLE_<NAME>`` or
``_oracle_<name>()``), then add ``"<name>"`` to ``GATES``.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import os
import shutil
import threading

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csp_gateway_spark import sinks
from csp_gateway_spark.session import read_table, rebind_session, replay_session
from csp_gateway_spark.operators.state import keyed_last
from csp_gateway_spark.query import Filter, Query, apply_query


def _gate_tmpdir(prefix: str) -> str:
    """RAM-backed scratch for the gate/bench harness when available.
    The streaming replays and changelog round-trips are deliberately
    I/O-real (checkpoints, state stores, per-batch landings, bucketed
    source files), but their SCRATCH device should not be the sandbox's
    throttled block store (measured ~5 MB/s sustained writes vs
    740 MB/s on /dev/shm) — a production deployment keeps stream
    state on executor-local SSD/NVMe, which tmpfs models here."""
    import os
    import tempfile

    base = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else None
    )
    return tempfile.mkdtemp(prefix=prefix, dir=base)


#: analyzed-DataFrame cache: `spark.read.parquet` pays file listing +
#: footer/schema reads EVERY call, a fixed ~30-80 ms × 322 queries ×
#: (warm + timed) bench passes.  Plans are immutable and the testdata
#: is static, so the resolved frame is safe to reuse per
#: (session, dir, table).  Keyed on the session OBJECT via a
#: WeakKeyDictionary — not id(spark), whose CPython address can be
#: reused by a NEW session of the same context after GC (returning a
#: frame bound to the dead session).  NOTE (ADVICE r13): the weak
#: keying only guards against id reuse; it does NOT self-evict —
#: cached DataFrames strongly reference their SparkSession, and
#: WeakKeyDictionary values are strong refs, so each entry keeps its
#: key alive for the process lifetime.  Acceptable here: the bench
#: and gate harnesses run a single session per process, so the cache
#: is bounded by (dirs × tables).
import weakref

_T_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _T_CACHE.get(spark)
    if per_session is None:
        per_session = _T_CACHE[spark] = {}
    key = (sf_dir, name)
    hit = per_session.get(key)
    if hit is None:
        hit = per_session[key] = read_table(spark, sf_dir, name)
    return hit


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelization for per-row-HEAVY compute
    (regex tokenize / per-position md5 / shingle+minhash expansion /
    vector math that runs IN the scan stage, before any exchange).

    The local testdata ships each table as ONE parquet file with ONE
    row group, so the scan is a single task and all scan-stage compute
    runs on 1 of the session's cores no matter what
    spark.sql.files.maxPartitionBytes says — a parquet row group is
    the split floor (measured: cdc_chunks' boundary pass 2.7 s on 1
    task → 0.8 s spread at sf0.1/local[32]).  A keyless round-robin
    repartition to the session default parallelism spreads the rows
    once, for the price of shuffling the raw input bytes (trivial next
    to the compute it parallelizes).  SCALE-ADAPTIVE: when the scan
    already carries at least half the session parallelism — the
    production/100 TB case of many files × many row groups — this
    returns the frame UNCHANGED, so no exchange is added where the
    layout is already right.  (Guide §2.5 input skew: "one huge
    unsplittable file … repartition immediately after the read";
    §1.2: fix the distributed shape before per-task work.)  Column
    pruning and filter pushdown pass through a round-robin
    Repartition node, so pruned scans stay pruned."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if 2 * cur >= p:
        return df
    return df.repartition(p)


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + ``_spread``, memoized per (session, sf_dir, table) so
    the partition-count probe runs once per bench process."""
    return _shared(
        spark, sf_dir, f"spread:{name}", lambda: _spread(_t(spark, sf_dir, name))
    )


# -- shared bounded intermediates ------------------------------------------
# Gate queries that share an expensive upstream stage (the survival
# step table, winnowing fingerprints, LR training) memoize it per
# (session, sf_dir): each query stays individually correct — the memo
# only caches a DETERMINISTIC bounded intermediate (localCheckpointed
# collapsed frame or a collected scalar list), so results are
# hash-identical with or without a warm cache.
#
# BENCH ACCOUNTING (r15, VERDICT r14 #1): every build is timed and
# logged to _SHARED_BUILD_LOG so the bench can (a) RESET the memo
# between its warm and timed passes — the first timed consumer then
# pays each build exactly once inside the timed region — and (b)
# report the total as a `shared_build_sec` line item.  Nested builds
# (e.g. _cox_fit → _cox_cells) log only the OUTERMOST wall time, so
# the log total never double-counts a build.  Each key is built once,
# under its own lock (a second caller waits for the first build), and
# the nesting depth is counted per thread.
_SHARED_MEMO: dict = {}
_SHARED_BUILD_LOG: list = []  # (name, seconds) per outermost build
_SHARED_LOCKS: dict = {}  # key -> RLock, guarded by _SHARED_LOCKS_LOCK
_SHARED_LOCKS_LOCK = threading.Lock()
_SHARED_BUILDING = threading.local()  # .depth: builds open on this thread


def _shared(spark: SparkSession, sf_dir: str, name: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _SHARED_LOCKS_LOCK:
        lock = _SHARED_LOCKS.setdefault(key, threading.RLock())
    with lock:
        if key not in _SHARED_MEMO:
            import time as _time

            depth = getattr(_SHARED_BUILDING, "depth", 0)
            _SHARED_BUILDING.depth = depth + 1
            t0 = _time.perf_counter()
            try:
                val = build()
            finally:
                _SHARED_BUILDING.depth = depth
            _SHARED_MEMO[key] = val
            if depth == 0:
                _SHARED_BUILD_LOG.append((name, _time.perf_counter() - t0))
        return _SHARED_MEMO[key]


def reset_shared(keep_plans: bool = True) -> None:
    """Drop every MATERIALIZED shared intermediate (localCheckpointed
    frames, collected scalars) and clear the build log, so the next
    consumer rebuilds from the parquet inputs.  With ``keep_plans``
    (default) the ``spread:*`` entries survive: they hold an
    UNMATERIALIZED round-robin repartition plan over the analyzed
    frame — the same class of object as the `_T_CACHE` plan cache,
    no data — and re-probing partition counts is not query work."""
    drop = [
        k
        for k in _SHARED_MEMO
        if not (keep_plans and k[2].startswith("spread:"))
    ]
    for k in drop:
        del _SHARED_MEMO[k]
    del _SHARED_BUILD_LOG[:]


def shared_build_sec() -> float:
    """Total seconds spent in outermost shared builds since the last
    ``reset_shared`` — the bench's `shared_build_sec` line item."""
    return sum(s for _, s in _SHARED_BUILD_LOG)


def _survival_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed survival step table (duration → deaths/total
    over the order→ship latency cohort, open 'O' lines censored)
    shared by `kaplan_meier` / `nelson_aalen` / `rmst` — three gate
    queries that otherwise each re-run the lineitem⋈orders join and
    the duration collapse."""

    def build():
        from csp_gateway_spark.operators.analytics import survival_steps

        li = _t(spark, sf_dir, "lineitem")
        orders = _t(spark, sf_dir, "orders")
        base = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
            (F.col("l_linestatus") == "O").cast("int").alias("cens"),
        )
        return survival_steps(base, "dur", "cens").localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "survival_steps", build)


def _ra_price_cells(spark: SparkSession, sf_dir: str):
    """ONE ranked distinct-price collapse over returned ('R') and
    acknowledged ('A') lineitem rows — ``analytics._rank_cells`` of
    ``l_extendedprice`` cast to decimal(15,2), shared by the whole
    two-cohort R/A-price family (ks_test, mann_whitney, wasserstein,
    energy_distance, yuen_trimmed_t, conover).  The decimal(15,2) cast
    is exact for 2-dp prices and round-trips to the same double, so
    grouping keys and downstream values are bit-identical (r14).
    Returns ``(cells, n_cells, (n_r, n_a))``, built once per
    process."""
    from csp_gateway_spark.operators.analytics import _rank_cells

    def build():
        li = _t(spark, sf_dir, "lineitem")
        return _rank_cells(
            li, "l_returnflag",
            F.col("l_extendedprice").cast("decimal(15,2)"), ["R", "A"],
        )

    return _shared(spark, sf_dir, "ra_price_cells15", build)


def _pctl_probe(df: DataFrame, col: str, probs: list) -> list:
    """Exact `percentile(col, p)` values via the probe_order_stats
    engine instead of the value→count-map aggregate (r14; the map
    build over ~594k near-unique doubles measured 1.6 s vs ~0.5 s for
    the log-depth probe).  Bit-identical reconstruction: Spark's
    Percentile evaluates pos = p·(n−1) in doubles, takes the adjacent
    order statistics, and interpolates (ceil(pos)−pos)·lo +
    (pos−floor(pos))·hi — verified bitwise against the aggregate on
    60/60 randomized trials; Python floats are the same IEEE doubles.
    NOT memoized — the probe jobs run on every call, inside the timed
    region, like the aggregate they replace."""
    import math

    from csp_gateway_spark.operators.analytics import probe_order_stats

    vals = df.filter(F.col(col).isNotNull())
    n = int(vals.agg(F.count(F.col(col)).alias("n")).collect()[0]["n"])
    ranks: dict = {}
    metas = []
    for i, p in enumerate(probs):
        pos = float(p) * (n - 1)
        ranks[f"_lo{i}"] = int(math.floor(pos)) + 1
        ranks[f"_hi{i}"] = int(math.ceil(pos)) + 1
        metas.append((pos, f"_lo{i}", f"_hi{i}"))
    got = probe_order_stats(vals, col, ranks)
    out = []
    for pos, lo_name, hi_name in metas:
        lo_v, hi_v = got[lo_name], got[hi_name]
        if math.floor(pos) == math.ceil(pos):
            out.append(lo_v)
        else:
            out.append(
                (math.ceil(pos) - pos) * lo_v + (pos - math.floor(pos)) * hi_v
            )
    return out


def _li_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE exact-decimal moment scan over the four lineitem fact
    columns — n, Σx, Σx², all six Σxy cross products, plus the
    4-item-total ΣT/ΣT² — shared by `correlation_matrix`,
    `partial_corr`, `cronbach_alpha` and `mahalanobis` (r14), whose
    operators each aggregate a SUBSET of these moments when not
    injected.  Decimal sums are associative/order-independent, so
    computing the union in one aggregate yields bit-identical values
    per consumer; only the declared precision of Σx differs
    ((28,2) here vs (38,2) in partial/cronbach's own path) and every
    consumer only ever casts these to double.

    r15: the scan is SPREAD (`_ts`) — the single-row-group local file
    otherwise runs all ~22 BigDecimal multiply-adds per row on ≤3 of
    32 cores (guide §2.5; probe: 1.94 s → parallel partial
    aggregation).  Every aggregate here is an exact decimal/count, so
    the values are partitioning-invariant by construction."""

    def build():
        li = _ts(spark, sf_dir, "lineitem")
        cols = list(_CORR_COLS)
        q = {c: F.col(c).cast("decimal(18,2)") for c in cols}
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs.append(F.sum(q[c]).alias(f"_s_{c}"))
            aggs.append(F.sum((q[c] * q[c]).cast("decimal(38,4)")).alias(f"_ss_{c}"))
        for i, a in enumerate(cols):
            for b in cols[i + 1:]:
                aggs.append(
                    F.sum((q[a] * q[b]).cast("decimal(38,4)")).alias(f"_sp_{a}_{b}")
                )
        # cronbach's per-row item total, in its declared item order
        items = [
            F.col(c).cast("decimal(18,2)")
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ]
        total = items[0].cast("decimal(25,2)")
        for it in items[1:]:
            total = (total + it).cast("decimal(25,2)")
        tsq = (total.cast("decimal(19,2)") * total.cast("decimal(19,2)")).cast(
            "decimal(38,4)"
        )
        aggs.append(F.sum(total.cast("decimal(38,2)")).alias("_st4"))
        aggs.append(F.sum(tsq).alias("_qt4"))
        return li.agg(*aggs).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "li_moments4", build)


def _hash_split(df: DataFrame, n: int, key: str = "event_id"):
    """Replay source stage: ``df`` as ``n`` parquet files split by
    ``hash(key)``, so a ``maxFilesPerTrigger=1`` stream over them runs
    ``n`` micro-batches.  Returns ``stage(root) -> source dir``."""

    def stage(root: str) -> str:
        src = os.path.join(root, "src")
        df.withColumn("_b", F.pmod(F.hash(key), F.lit(n))).repartition(
            n, "_b"
        ).drop("_b").write.mode("overwrite").parquet(src)
        return src

    return stage


def _replay_stream(replay: SparkSession, src: str, schema) -> DataFrame:
    """One micro-batch per source file, read on the replay session."""
    return (
        replay.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _stream_replay(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    stage: Callable[[str], str],
    build: Callable[..., DataFrame],
    finish: Callable[[DataFrame], DataFrame] = lambda t: t,
    mode: str = "append",
    static: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Run one streaming replay gate end to end.

    ``stage(root)`` writes ``source``'s rows as replay files; a
    ``maxFilesPerTrigger=1`` stream over them (on
    ``session.replay_session``, with each ``static`` frame rebound
    there) goes through ``build(stream, *static)`` under
    ``availableNow``, and each micro-batch lands as parquet through
    ``sinks.land_batch`` in ``mode`` (append: one directory per batch
    id; complete: the landing replaced), so a restart from the
    checkpoint re-lands a batch in place.  Returns ``finish`` over a
    scan of the landing on ``spark``.  Nothing sets conf on ``spark``."""
    replay = replay_session(spark)

    def start(root: str, src: str):
        statics = [rebind_session(df, replay) for df in static]
        return (
            build(_replay_stream(replay, src, source.schema), *statics)
            .writeStream.outputMode(mode)
            .foreachBatch(
                lambda df, batch_id: sinks.land_batch(df, batch_id, os.path.join(root, "landing"), mode)
            )
            .queryName(f"gate_{name}_{os.getpid()}")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    return finish(spark.read.parquet(_replay(name, stage, start, "landing")))


_KEPT: dict[str, str] = {}  # gate name -> the root its last replay kept
_KEPT_LOCK = threading.Lock()


@atexit.register
def _drop_kept() -> None:
    for root in _KEPT.values():
        shutil.rmtree(root, ignore_errors=True)


def _replay(
    name: str,
    stage: Callable[[str], str],
    start: Callable[[str, str], object],
    landing: str,
) -> str:
    """Scratch for one replay: in a fresh ``root``, ``stage(root)``
    writes the source files, ``start(root, src)`` starts the query
    and it runs to its end.  Returns ``<root>/<landing>``, where the
    query's output landed (which the returned frame scans), and removes
    the rest of ``root``, or all of it when the replay fails.

    A process keeps one landing per gate ``name``: a replay that
    succeeds removes the root of the gate's previous one, so a frame
    from an earlier call of the same gate is then invalid, and the
    last is removed at interpreter exit."""
    root = _gate_tmpdir(prefix=f"csp_gw_{name}_{os.getpid()}_")
    q, keep = None, None
    try:
        q = start(root, stage(root))
        q.awaitTermination()
        keep = landing
    finally:
        if q is not None:
            q.stop()
        if keep is None:
            shutil.rmtree(root, ignore_errors=True)
        else:
            for d in os.listdir(root):
                path = os.path.join(root, d)
                if d != keep:
                    shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
    with _KEPT_LOCK:
        previous, _KEPT[name] = _KEPT.get(name), root
    if previous is not None:
        shutil.rmtree(previous, ignore_errors=True)
    return os.path.join(root, landing)


def _time_split(ev: DataFrame, n: int, sentinels_ns: tuple[int, ...] = ()):
    """Replay source stage for the stream-stream join gates: ``ev`` as
    ``n`` time-range buckets whose file modification order (what the
    FileStreamSource sorts by) is event-time order, then one sentinel
    file per offset in ``sentinels_ns`` (one click + one purchase,
    ids = −1, at max ts + offset).  Returns ``stage(root) -> source
    dir``.  Two Spark jobs stage it (optimization r14):

    - ONE ``repartitionByRange(n, "_b")`` job writes the buckets: range
      partition index == bucket index == ``part-0000k`` index;
    - each sentinel pair is built JVM-side from ``spark.range(1)`` +
      explode (a 2-row ``createDataFrame`` list + ``coalesce(1)``
      cycled 32 Python workers through one task: 4-5.5 s per
      sentinel vs 0.15-0.25 s);
    - ``os.utime`` at 2 s spacing imposes the order explicitly:
      buckets first, then sentinels in offset order."""
    import time as _time

    spark = ev.sparkSession

    def stage(root: str) -> str:
        src_dir = os.path.join(root, "src")
        bounds = ev.agg(F.min("ts").alias("_mn"), F.max("ts").alias("_mx")).collect()[0]
        lo, hi = int(bounds._mn), int(bounds._mx)
        span = max(1, hi - lo + 1)
        (
            ev.withColumn(
                "_b", ((F.col("ts") - F.lit(lo)) * n / F.lit(span)).cast("int")
            )
            .repartitionByRange(n, "_b")
            .drop("_b")
            .write.mode("overwrite")
            .parquet(src_dir)
        )
        files = sorted(f for f in os.listdir(src_dir) if f.startswith("part-"))
        base = _time.time()
        for i, f in enumerate(files):
            t = base + 2.0 * i
            os.utime(os.path.join(src_dir, f), (t, t))
        for j, off in enumerate(sentinels_ns):
            sent_dir = os.path.join(root, f"sent_{j}")
            (
                # numPartitions=1: exactly ONE part file holding both
                # rows (default-parallelism range scatters the row into
                # one of 32 parts and the rename below must not pick an
                # empty one)
                spark.range(0, 1, 1, 1)
                .select(
                    F.lit(-1).cast("long").alias("event_id"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.explode(F.array(F.lit("click"), F.lit("purchase"))).alias(
                        "event_type"
                    ),
                    F.lit(0.0).cast("double").alias("value"),
                    F.lit(hi + off).cast("long").alias("ts"),
                )
                .write.mode("overwrite")
                .parquet(sent_dir)
            )
            part = next(f for f in sorted(os.listdir(sent_dir)) if f.startswith("part-"))
            dst = os.path.join(src_dir, f"sentinel-{j}-{part}")
            os.rename(os.path.join(sent_dir, part), dst)
            t = base + 2.0 * (len(files) + j)
            os.utime(dst, (t, t))
        return src_dir

    return stage


def _click_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The click/purchase events the interval-join replays stream."""
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("event_type").isin("click", "purchase"))
    )


def _interval_join(stream: DataFrame, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases within
    [click, click + 1 h], both sides under a 2-hour watermark on their
    micros event time (bounded join state)."""

    def side(ty: str, ts_name: str) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == ty)
            .withColumn(ts_name, F.expr("timestamp_micros(ts div 1000)"))
            .withWatermark(ts_name, "2 hours")
        )

    clicks = side("click", "_cts").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("_cu"),
        "_cts",
    )
    purchases = side("purchase", "_pts").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("_pu"),
        F.col("value").alias("_pv"),
        "_pts",
    )
    return clicks.join(
        purchases,
        (F.col("_cu") == F.col("_pu"))
        & (F.col("_pts") >= F.col("_cts"))
        & (F.col("_pts") <= F.col("_cts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


def _interval_join_rows(t: DataFrame) -> DataFrame:
    """Landed attribution pairs of an interval-join replay; the
    sentinel pair (ids = −1) is dropped."""
    return t.filter(F.col("click_id") >= 0).select(
        "click_id",
        "purchase_id",
        F.col("_cu").alias("user_id"),
        # timestamp→long is epoch SECONDS in Spark (floored); the
        # oracle mirrors with per-side `// 1000000` before the diff
        (F.col("_pts").cast("long") - F.col("_cts").cast("long")).alias("lag_sec"),
        (F.round("_pv", 6) + F.lit(0.0)).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# A1/A2/A3 — keyed last-value state (state.py:165-225, 228-490)
# ---------------------------------------------------------------------------

def q_state_keyed_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = keyed_last(ev, ["user_id"], order_by=["ts", "event_id"])
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
    )


ORACLE_STATE_KEYED_LAST = """
SELECT user_id, event_id, event_type, CAST(value AS DECIMAL(18,2)) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id ASC NULLS FIRST
"""


def q_state_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `state_keyed_last`, promoted to the oracle
    gate (reference is first a streaming gateway — channels.py:182):
    events replay through a REAL Structured Streaming query —
    readStream over an 8-file split with maxFilesPerTrigger=1, so
    trigger(availableNow) executes 8 micro-batches whose keyed-last
    states MERGE incrementally through the foreachBatch upsert
    (streaming/state_stream.py) — and the state the last batch landed
    must hash-equal the batch window oracle."""
    from csp_gateway_spark.streaming.state_stream import streaming_keyed_last

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    table = f"gate_state_replay_{os.getpid()}"

    def start(root: str, src: str):
        # the replay's root is the checkpoint, so the landed states are
        # the one directory <root>/keyed_last
        return streaming_keyed_last(
            _replay_stream(replay_session(spark), src, ev.schema),
            ["user_id"],
            table,
            root,
            order_by=["ts", "event_id"],
            trigger_available_now=True,
        )

    # deterministic 8-way split -> 8 source files -> 8 engine cycles
    _replay("stream_replay", _hash_split(ev, 8), start, "keyed_last")
    state = spark.table(f"global_temp.{table}")  # the last batch's landed state
    spark.catalog.dropGlobalTempView(table)
    return state.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
    )


ORACLE_STATE_STREAM_REPLAY = ORACLE_STATE_KEYED_LAST


def q_enrich_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEVENTH streaming gate shape: STREAM-STATIC broadcast
    enrichment + complete-mode aggregation.  Events replay through a
    real Structured Streaming query (8-file split, one micro-batch
    per file); each micro-batch inner-joins the STATIC customer dim
    (broadcast — the stream side never shuffles for the join) and the
    running (segment × event_type) totals re-emit in COMPLETE output
    mode; the table the last batch landed must hash-equal the batch
    join+groupBy oracle."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def build(stream, cust):
        enriched = stream.join(
            F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
        )
        return enriched.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )

    return _stream_replay(
        spark, "enrich_replay", ev, _hash_split(ev, 8), build,
        mode="complete", static=(cust,),
    ).orderBy("c_mktsegment", "event_type")


ORACLE_ENRICH_STREAM_REPLAY = """
SELECT c_mktsegment, event_type, CAST(COUNT(*) AS BIGINT) AS n,
       SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# P1-P3 — Filter/Query compilation on state (filter.py:16-66, state.py:339-376)
# ---------------------------------------------------------------------------

def q_state_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    state = keyed_last(ev, ["user_id"], order_by=["ts", "event_id"])
    q = Query(
        filters=[
            Filter(attr="value", op=">=", value=30.0),
            Filter(attr="value", op="<", value=150.0),
            Filter(attr="event_type", op="!=", value="error"),
        ]
    )
    out = apply_query(state, q)
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
    )


ORACLE_STATE_FILTER_QUERY = """
SELECT user_id, event_id, event_type, CAST(value AS DECIMAL(18,2)) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND value >= 30.0 AND value < 150.0 AND event_type != 'error'
ORDER BY user_id ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# A5 — Perspective server view: group_by + aggregates + sort + filter
# (perspective.py:133-142, 384-387)
# ---------------------------------------------------------------------------

def q_perspective_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.pivot import ViewConfig, perspective_view

    li = _t(spark, sf_dir, "lineitem")
    cfg = ViewConfig(
        group_by=["l_returnflag", "l_linestatus"],
        aggregates={
            "qty_dec": "sum",
            "price_dec": "sum",
            "l_orderkey": "count",
            "l_quantity": "median",
        },
        expressions={
            "qty_dec": "CAST(l_quantity AS DECIMAL(18,2))",
            "price_dec": "CAST(l_extendedprice AS DECIMAL(18,2))",
        },
        filter=[("l_quantity", "<=", 45.0)],
        sort=[("l_returnflag", "asc"), ("l_linestatus", "asc")],
    )
    out = perspective_view(li, cfg)
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").alias("sum_qty"),
        F.col("sum_price_dec").alias("sum_price"),
        F.col("count_l_orderkey").alias("n"),
        F.col("median_l_quantity").cast("double").alias("median_qty"),
    )


ORACLE_PERSPECTIVE_VIEW = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
       COUNT(l_orderkey) AS n,
       CAST(median(l_quantity) AS DOUBLE) AS median_qty
FROM lineitem
WHERE l_quantity <= 45.0
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# A5 — pivot (split_by): groupBy().pivot().agg() (perspective.py:133-142)
# ---------------------------------------------------------------------------

def q_perspective_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.pivot import ViewConfig, perspective_view

    li = _t(spark, sf_dir, "lineitem")
    cfg = ViewConfig(
        group_by=["l_returnflag"],
        split_by=["l_linestatus"],
        aggregates={"qty_dec": "sum"},
        expressions={"qty_dec": "CAST(l_quantity AS DECIMAL(18,2))"},
    )
    out = perspective_view(li, cfg, split_values=["F", "O"])
    return out.select(
        "l_returnflag",
        F.col("F").alias("qty_F"),
        F.col("O").alias("qty_O"),
    ).orderBy("l_returnflag")


ORACLE_PERSPECTIVE_PIVOT = """
SELECT l_returnflag,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS qty_F,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS qty_O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# A6 — Perspective table index/limit (upsert + ring buffer)
# (perspective.py:468-475)
# ---------------------------------------------------------------------------

def q_table_index_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.state import upsert_table

    orders = _t(spark, sf_dir, "orders")
    out = upsert_table(
        orders, index=["o_custkey"], order_by=["o_orderdate", "o_orderkey"], limit=100
    )
    return out.select("o_custkey", "o_orderkey", "o_orderstatus")


ORACLE_TABLE_INDEX_LIMIT = """
WITH last_per_key AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT o_custkey, o_orderkey, o_orderstatus FROM (
  SELECT *, row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
  FROM last_per_key
) WHERE rk <= 100
"""


# ---------------------------------------------------------------------------
# W — tumbling event-time window (windows.py; additive per SURVEY §7.8)
# ---------------------------------------------------------------------------

def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.windows import tumbling

    ev = _t(spark, sf_dir, "events")
    return tumbling(
        ev,
        "ts",
        3600,
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        ],
    ).orderBy("bucket_start", "event_type")


ORACLE_WINDOW_TUMBLING = """
SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start, event_type,
       COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# W — session window (gaps-and-islands; windows.py::sessionize)
# ---------------------------------------------------------------------------

def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.windows import sessionize

    # DuckDB reads ns-parquet as microsecond TIMESTAMP, so sessions are
    # computed on µs time in both engines.
    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    out = sessionize(ev, "ts_us", 1800 * 1_000_000, keys=["user_id"])
    return out.select("user_id", "session_start", "n").orderBy("user_id", "session_start")


ORACLE_WINDOW_SESSION = """
WITH t AS (
  SELECT user_id, epoch_us(ts) AS tns,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, tns,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tns ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id, MIN(tns) AS session_start, COUNT(*) AS n
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# J — as-of join (union+window single-shuffle plan; joins.py::asof_join)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("view_event_id"),
    ).orderBy("event_id")


ORACLE_ASOF_JOIN = """
SELECT p.user_id, p.event_id, v.event_id AS view_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# J — interval join (click -> purchase within 10 min; joins.py)
# ---------------------------------------------------------------------------

def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    out = interval_join(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="ts",
        lower=0, upper=600 * 1_000_000_000,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("purchase_id"),
    )


ORACLE_INTERVAL_JOIN = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND epoch_ns(p.ts) >= epoch_ns(c.ts)
 AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 600000000000
"""


# ---------------------------------------------------------------------------
# J1/P6 — union-of-setters / merge (channels.py:439-472)
# ---------------------------------------------------------------------------

def q_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.joins import merge

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("event_id", "event_type", "user_id")
    b = ev.filter(F.col("event_type") == "error").select("event_id", "event_type", "user_id")
    return merge(a, b)


ORACLE_UNION_MERGE = """
SELECT event_id, event_type, user_id FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, event_type, user_id FROM events WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# J4 — id point lookup (web/routes/lookup.py:29-85)
# ---------------------------------------------------------------------------

def q_lookup_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") == 1234).select(
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
        "props",
    )


ORACLE_LOOKUP_BY_ID = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       CAST(value AS DECIMAL(18,2)) AS value, props
FROM events WHERE event_id = 1234
"""


# ---------------------------------------------------------------------------
# P10 — flatten/explode with ordinality (psp.py:33-112)
# ---------------------------------------------------------------------------

def q_explode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.flatten import explode_lists

    emb = _ts(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = explode_lists(emb, with_position=True)
    return out.select(
        "vec_id",
        (F.col("embedding_pos") + 1).alias("pos"),
        F.col("embedding").cast("double").alias("emb"),
    ).filter(F.col("vec_id") < 10)


ORACLE_EXPLODE_EMBEDDINGS = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       CAST(unnest(embedding) AS DOUBLE) AS emb
FROM embeddings WHERE vec_id < 10
"""


# ---------------------------------------------------------------------------
# TEXT — language-ID, quality, token counts, fingerprint (operators/text.py)
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.text import text_stats

    docs = _ts(spark, sf_dir, "documents")
    out = text_stats(docs)
    return out.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "n_subtokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality", 6).alias("quality"),
        "lang_pred",
        "fingerprint",
    )


_SQL_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')"
_SQL_RAWTOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')"
_SQL_NORM = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"
)
_EN = "['the','and','of','to','a','in','is','that','it','for','on','with','as','at','by','an','be','this']"
_MARK = {
    "en": "['the','and','of','to','a','in','is','that','it','for']",
    "fr": "['le','la','les','et','de','un','une','est','que','pour']",
    "de": "['der','die','das','und','ist','nicht','ein','eine','zu','mit']",
    "es": "['el','la','los','las','y','de','que','es','un','una']",
}

ORACLE_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id, text,
         {_SQL_RAWTOKS} AS rtoks,
         {_SQL_TOKS} AS toks
  FROM documents
), stats AS (
  SELECT doc_id,
    length(text) AS n_chars_calc,
    len(rtoks) AS n_tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS n_subtokens,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> list_contains({_EN}, x))) / len(toks)
         ELSE 0.0 END AS stopword_ratio,
    len(list_filter(toks, x -> list_contains({_MARK['en']}, x))) AS s_en,
    len(list_filter(toks, x -> list_contains({_MARK['fr']}, x))) AS s_fr,
    len(list_filter(toks, x -> list_contains({_MARK['de']}, x))) AS s_de,
    len(list_filter(toks, x -> list_contains({_MARK['es']}, x))) AS s_es,
    length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk,
    md5({_SQL_NORM}) AS fingerprint
  FROM base
)
SELECT doc_id, n_chars_calc, n_tokens, n_subtokens,
  round(punct_ratio, 6) AS punct_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE
        ((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN stopword_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)) / 3.0 END, 6) AS quality,
  CASE WHEN has_cjk THEN 'zh'
       WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es'
       ELSE 'und' END AS lang_pred,
  fingerprint
FROM stats
"""


# ---------------------------------------------------------------------------
# DEDUP — exact (hash groupBy) (operators/dedup.py)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.dedup import exact_dedup

    docs = _ts(spark, sf_dir, "documents")
    return exact_dedup(docs).orderBy("doc_id")


ORACLE_DEDUP_EXACT = f"""
SELECT md5({_SQL_NORM}) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# DEDUP — minhash signatures (portable md5-hex hashing; operators/dedup.py)
# ---------------------------------------------------------------------------

_MH_SEEDS = 8
_SHINGLE_K = 3


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 8-hash signature is the PREFIX of the shared 16-hash table:
    # _affine_coeffs is a sequential LCG, so coeffs(8) == coeffs(16)[:8]
    # and min-over-shingles applies per hash independently (r14)
    sig = _mh_signatures(spark, sf_dir).select(
        "doc_id", F.slice("sig", 1, _MH_SEEDS).alias("sig")
    )
    return sig.select("doc_id", F.posexplode("sig").alias("seed", "minhash"))


def _sql_shingles(k: int = _SHINGLE_K) -> str:
    toks = f"list_filter(regexp_split_to_array({_SQL_NORM}, ' '), x -> x != '')"
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} "
        f"THEN list_transform(range(1, len({toks}) - {k} + 2), i -> array_to_string(({toks})[i:i+{k}-1], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def _sql_shingles_all(k: int) -> str:
    """Non-distinct shingle list (every position, duplicates kept) —
    mirrors ``dedup.shingle_rows`` occurrence semantics."""
    toks = f"list_filter(regexp_split_to_array({_SQL_NORM}, ' '), x -> x != '')"
    return (
        f"(CASE WHEN len({toks}) >= {k} "
        f"THEN list_transform(range(1, len({toks}) - {k} + 2), i -> array_to_string(({toks})[i:i+{k}-1], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def _sql_affine_minhash(num_hashes: int, elem: str = "s", seed_ref: str = "seed") -> str:
    """DuckDB expression replicating the portable affine minhash family
    (one md5 per shingle, per-seed 2-universal rehash; see
    dedup._affine_coeffs — coefficients inlined as literals)."""
    from csp_gateway_spark.operators.dedup import _AFFINE_P, _affine_coeffs

    coeffs = _affine_coeffs(num_hashes)
    a_lits = ", ".join(str(a) for a, _ in coeffs)
    c_lits = ", ".join(str(c) for _, c in coeffs)
    base = f"('0x' || substr(md5({elem}), 1, 7))::BIGINT"
    return (
        f"(([{a_lits}])[{seed_ref}+1] * {base} + ([{c_lits}])[{seed_ref}+1]) % {_AFFINE_P}"
    )


ORACLE_MINHASH_SIGNATURE = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
), seeds AS (
  SELECT unnest(range(0, {_MH_SEEDS})) AS seed
)
SELECT doc_id, seed,
       list_min(list_transform(shingles, s -> {_sql_affine_minhash(_MH_SEEDS)})) AS minhash
FROM sh, seeds
"""


# ---------------------------------------------------------------------------
# DEDUP — n-gram Jaccard verification (operators/dedup.py)
# ---------------------------------------------------------------------------

def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.dedup import ngram_jaccard_pairs

    docs = _ts(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") < 20)
    pairs = (
        small.select(F.col("doc_id").alias("id_a"))
        .join(small.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    out = ngram_jaccard_pairs(docs, pairs, k=_SHINGLE_K)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles()} AS s FROM documents WHERE doc_id < 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# DEDUP — MinHash LSH pairs (portable banding — the oracle replicates the
# candidate generation + verify exactly) + SimHash (xxhash64; rows-only)
# ---------------------------------------------------------------------------

_MH_PAIR_HASHES = 16
_MH_PAIR_BANDS = 4
_MH_PAIR_ROWS = _MH_PAIR_HASHES // _MH_PAIR_BANDS


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.dedup import minhash_lsh_pairs

    docs = _ts(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        num_hashes=_MH_PAIR_HASHES,
        bands=_MH_PAIR_BANDS,
        jaccard_threshold=0.5,
        oracle_safe=True,
        candidates=_mh_candidates(spark, sf_dir),
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


ORACLE_DEDUP_MINHASH_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles()} AS s FROM documents
), sig AS (
  SELECT doc_id, list_transform(range(0, {_MH_PAIR_HASHES}), seed ->
    list_min(list_transform(s, sx -> {_sql_affine_minhash(_MH_PAIR_HASHES, elem="sx")}))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band*{_MH_PAIR_ROWS}+1 : band*{_MH_PAIR_ROWS}+{_MH_PAIR_ROWS}], '|') AS bh
  FROM sig, (SELECT unnest(range(0, {_MH_PAIR_BANDS})) AS band) bs
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), verified AS (
  SELECT id_a, id_b,
    len(list_intersect(sa.s, sb.s)) / len(list_distinct(list_concat(sa.s, sb.s))) AS j
  FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM verified WHERE j >= 0.5
"""


_SIMHASH_BITS = 60  # portable md5-based hash is 60 bits wide


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.dedup import simhash

    docs = _ts(spark, sf_dir, "documents")
    return simhash(docs, bits=_SIMHASH_BITS, oracle_safe=True).orderBy("doc_id")


def _sql_simhash_oracle(bits: int) -> str:
    toks = f"list_filter(regexp_split_to_array({_SQL_NORM}, ' '), x -> x != '')"
    bsum = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    recon = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t
), b AS (
  SELECT doc_id, {bsum} FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM b ORDER BY doc_id
"""


ORACLE_DEDUP_SIMHASH = _sql_simhash_oracle(_SIMHASH_BITS)


# ---------------------------------------------------------------------------
# ANN — brute-force cosine top-k (operators/similarity.py)
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.similarity import cosine_topk

    emb = _ts(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = cosine_topk(emb.filter(F.col("vec_id") != 0), qv, k=10)
    return out.select("vec_id", F.round("cos", 6).alias("cos"))


ORACLE_ANN_COSINE_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos
FROM embeddings, q WHERE vec_id != 0
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# ANN — embedding cosine near-dup pairs (operators/dedup.py)
# ---------------------------------------------------------------------------

def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs verifier (blocked BLAS tiles).  The testdata
    embeddings are near-uniform (qualifying pairs sit at cos 0.40-0.60,
    far below any LSH-recallable regime), so the exact join IS the
    correct algorithm for this threshold; the LSH-blocked scale path is
    gated separately as ``embedding_neardup_lsh``.  Plan construction is
    job-free (block count from Catalyst stats)."""
    import os

    import pyarrow.parquet as pq

    from csp_gateway_spark.operators.dedup import embedding_neardup_blocked

    emb = _ts(spark, sf_dir, "embeddings")
    # exact row count from the parquet footer — metadata only, no job
    n = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    out = embedding_neardup_blocked(emb, threshold=0.4, n_rows=n)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


ORACLE_EMBEDDING_NEARDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def _sql_lsh_bucket_expr(bits: int, dim: int = 64, seed: int = 7, vec: str = "e") -> str:
    """DuckDB expression replicating ``similarity.lsh_bucket`` bit-exactly:
    the hyperplanes are deterministic (seeded LCG), so they are inlined
    as literals on both engines."""
    from csp_gateway_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits, seed)
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(x) for x in p)
        terms.append(f"(CASE WHEN list_dot_product({vec}, [{lits}]) >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


_NEARDUP_LSH_BITS = 6


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: hyperplane-LSH blocking → per-bucket exact cosine.
    At 100 TB the bucket join shuffles on the bucket id (2^bits groups,
    hash-balanced); no all-pairs stage exists in the plan."""
    from csp_gateway_spark.operators.dedup import embedding_neardup_pairs
    from csp_gateway_spark.operators.similarity import lsh_bucket

    emb = _ts(spark, sf_dir, "embeddings")
    b = lsh_bucket(emb, dim=64, bits=_NEARDUP_LSH_BITS, seed=7)
    out = embedding_neardup_pairs(b, threshold=0.4, bucket_col="bucket")
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


ORACLE_EMBEDDING_NEARDUP_LSH = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (SELECT vec_id, e, {_sql_lsh_bucket_expr(_NEARDUP_LSH_BITS)} AS bucket FROM v)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b2.e), 6) AS cos
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE list_cosine_similarity(a.e, b2.e) >= 0.4
"""


# ---------------------------------------------------------------------------
# ANN — LSH-bucketed top-k (scale path; oracle replicates the deterministic
# hyperplane buckets and the hamming-1 multi-probe in SQL)
# ---------------------------------------------------------------------------

def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.similarity import lsh_topk

    emb = _ts(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = lsh_topk(emb.filter(F.col("vec_id") != 0), qv, dim=64, k=10, bits=8)
    return out.select("vec_id", F.round("cos", 6).alias("cos"))


ORACLE_ANN_LSH_TOPK = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (SELECT vec_id, e, {_sql_lsh_bucket_expr(8)} AS bucket FROM v),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(e, qe), 6) AS cos
FROM b, q
WHERE vec_id != 0 AND bit_count(xor(bucket, qb)) <= 1
ORDER BY list_cosine_similarity(e, qe) DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# JOINS at scale — broadcast dim + agg (SURVEY §2.4 Spark-native surface)
# ---------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.plans.scale import broadcast_dim

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast_dim(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )
    return out


ORACLE_REVENUE_BY_NATION = """
SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    # per-customer spend off the shared collapse; c_name is
    # functionally dependent on c_custkey, so grouping post-join by
    # (key, name) equals joining the per-key sums to the names
    out = (
        _cust_orders(spark, sf_dir)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", F.col("_spend").alias("spend"))
        .orderBy(F.desc("spend"), F.asc("c_custkey"))
        .limit(10)
    )
    return out


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name ORDER BY spend DESC, c_custkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# P7 — channel processor (map + filter hook, kafka/utils.py:14-46)
# ---------------------------------------------------------------------------

def q_channel_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # process: scale value by 2; drop error ticks (None result ≙ filter)
    out = (
        ev.withColumn("value2", (F.col("value") * 2).cast("decimal(18,2)"))
        .filter(F.col("event_type") != "error")
        .select("event_id", "event_type", "value2")
    )
    return out


ORACLE_CHANNEL_PROCESSOR = """
SELECT event_id, event_type, CAST(value * 2 AS DECIMAL(18,2)) AS value2
FROM events WHERE event_type != 'error'
"""


# ---------------------------------------------------------------------------
# A7 — tick counting (testing/harness.py:124-136)
# ---------------------------------------------------------------------------

def q_tick_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("ticks")).orderBy("event_type")


ORACLE_TICK_COUNTS = """
SELECT event_type, COUNT(*) AS ticks FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# W3 — start-time gating (channels.py:461-470)
# ---------------------------------------------------------------------------

_GATE_NS = 1705276800 * 1_000_000_000  # 2024-01-15T00:00:00Z


def q_time_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") >= F.lit(_GATE_NS))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


ORACLE_TIME_GATE = f"""
SELECT event_type, COUNT(*) AS n FROM events
WHERE epoch_ns(ts) >= {_GATE_NS} GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# J3 — per-identity lookup join on keyed state (auth_filter.py:161-219)
# ---------------------------------------------------------------------------

def q_identity_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.joins import lookup_join

    ev = _t(spark, sf_dir, "events")
    state = keyed_last(ev, ["user_id"], order_by=["ts", "event_id"])
    return lookup_join(state, "user_id", 42).select("user_id", "event_id", "event_type")


ORACLE_IDENTITY_LOOKUP = """
SELECT user_id, event_id, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND user_id = 42
"""


# ---------------------------------------------------------------------------
# W — sliding window (windows.py::sliding)
# ---------------------------------------------------------------------------

def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.windows import sliding

    ev = _t(spark, sf_dir, "events")
    return sliding(ev, "ts", 3600, 900).orderBy("bucket_start")


ORACLE_WINDOW_SLIDING = """
SELECT bs AS bucket_start, COUNT(*) AS n FROM (
  SELECT unnest(range((epoch_ns(ts)//1000000000//900 - 3), (epoch_ns(ts)//1000000000//900) + 1)) * 900 AS bs,
         epoch_ns(ts)//1000000000 AS tsec
  FROM events
) WHERE tsec >= bs AND tsec < bs + 3600
GROUP BY bs ORDER BY bs
"""


# ---------------------------------------------------------------------------
# P10 — struct flatten to dotted columns (psp.py:245-246)
# ---------------------------------------------------------------------------

def q_flatten_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.flatten import flatten_structs

    ev = _t(spark, sf_dir, "events")
    nested = ev.select("event_id", F.struct("user_id", "event_type").alias("meta"))
    return flatten_structs(nested)


ORACLE_FLATTEN_STRUCT = """
SELECT event_id, user_id AS "meta.user_id", event_type AS "meta.event_type" FROM events
"""


# ---------------------------------------------------------------------------
# P8/S4/S5 — changelog write → replay round trip with rewrite
# (json_converter.py:245-273, modules/io/json.py)
# ---------------------------------------------------------------------------

def q_replay_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.sources.replay import read_changelog, replay_channel, write_changelog

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    path = _gate_tmpdir(prefix="cl_")
    write_changelog({"events": ev}, path, mode="overwrite")
    back = replay_channel(read_changelog(spark, path), "events", ev.schema, flag_updates={"replayed": True})
    return back.select(
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
        "replayed",
    )


ORACLE_REPLAY_REWRITE = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type,
       CAST(value AS DECIMAL(18,2)) AS value, true AS replayed
FROM events
"""


def q_replay_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EngineReplay ``start_writing`` read→write handoff on the oracle
    gate (reference `shared/engine_replay.py:107-118`): run A writes
    the pre-cutover click/purchase cycles to a JSON changelog; run B
    replays them below the cutover (`csp.times(...) < alarm_time`) and
    appends ONLY its post-cutover ticks as new cycles to the SAME
    changelog.  The combined changelog must decode to the continuous
    run — per-type count / exact value sum / ts range hash-equal to
    the direct batch aggregate over events (nothing duplicated at the
    seam, nothing dropped)."""
    import shutil

    from csp_gateway_spark.catalog import ChannelCatalog
    from csp_gateway_spark.sources.engine_replay import EngineReplay, ReadWriteMode
    from csp_gateway_spark.sources.replay import read_changelog, replay_channel

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("value"),
            F.expr("ts div 1000").alias("ts_us"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("timestamp"),
        )
        .localCheckpoint(eager=True)
    )
    b = ev.agg(F.min("timestamp").alias("_mn"), F.max("timestamp").alias("_mx")).collect()[0]
    span = (b._mx - b._mn).total_seconds()
    cutover = b._mn + _dt.timedelta(seconds=span * 0.6)
    schema = ev.schema
    root = _gate_tmpdir(prefix=f"csp_gw_handoff_{os.getpid()}_")
    path = os.path.join(root, "log")

    # run A: WRITE mode from before the data — full pre-cutover history
    run_a = EngineReplay(
        path=path, schemas={"events": schema},
        read_write_mode=ReadWriteMode.WRITE,
        start_writing=b._mn - _dt.timedelta(days=1),
    )
    cat_a = ChannelCatalog(spark)
    run_a.connect(cat_a)
    cat_a.set_channel("events", ev.filter(F.col("timestamp") < F.lit(cutover)))
    run_a.flush()

    # run B: READ_AND_WRITE handoff at the cutover — replay history,
    # then append only the new (>= cutover) cycles
    run_b = EngineReplay(
        path=path, schemas={"events": schema}, start_writing=cutover
    )
    cat_b = ChannelCatalog(spark)
    run_b.connect(cat_b)
    cat_b.set_channel("events", ev.filter(F.col("timestamp") >= F.lit(cutover)))
    run_b.flush()

    combined = replay_channel(read_changelog(spark, path), "events", schema)
    out = combined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("ts_us").cast("long").alias("min_ts_us"),
        F.max("ts_us").cast("long").alias("max_ts_us"),
    )
    state_out = os.path.join(root, "agg_out")
    out.write.mode("overwrite").parquet(state_out)
    shutil.rmtree(path, ignore_errors=True)
    return spark.read.parquet(state_out).orderBy("event_type")


ORACLE_REPLAY_HANDOFF = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       SUM(CAST(value AS DECIMAL(18,2))) AS sum_value,
       CAST(MIN(epoch_ns(ts) // 1000) AS BIGINT) AS min_ts_us,
       CAST(MAX(epoch_ns(ts) // 1000) AS BIGINT) AS max_ts_us
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# TEXT — cleaning pipeline (strip_html → remove_urls → mask_pii)
# ---------------------------------------------------------------------------

def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.text import clean_text

    docs = _ts(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(clean_text(F.col("text"))).alias("clean_md5"))


ORACLE_TEXT_CLEAN = r"""
WITH cleaned AS (
  SELECT doc_id,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(text, '<[^>]+>', ' ', 'g'),
            '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '),
          'https?://\S+|www\.\S+', ' ', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\s+', ' ', 'g')) AS c
  FROM documents
)
SELECT doc_id, md5(regexp_replace(c, '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g')) AS clean_md5 FROM cleaned
"""


# ---------------------------------------------------------------------------
# CORPUS — vocabulary top-k (operators/corpus.py)
# ---------------------------------------------------------------------------

def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import vocab_topk

    docs = _ts(spark, sf_dir, "documents")
    counts = _tok_counts(spark, sf_dir).select("token", F.col("_c").alias("n"))
    return vocab_topk(docs, k=50, counts=counts)


ORACLE_VOCAB_TOPK = f"""
SELECT token, COUNT(*) AS n FROM (
  SELECT unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
) GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# CORPUS — TF-IDF (operators/corpus.py)
# ---------------------------------------------------------------------------

def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import tf_idf

    docs = _ts(spark, sf_dir, "documents")
    tf = _postings(spark, sf_dir).select(
        F.col("doc_id"), F.col("token"), F.col("tf")
    )
    out = tf_idf(docs, tf=tf)
    return out.filter(F.col("doc_id") < 20).select(
        "doc_id", "token", "tf", "df", F.round("tfidf", 6).alias("tfidf")
    )


ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, tf.token, tf, df, round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq ON tf.token = dfreq.token, n
WHERE doc_id < 20
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# CORPUS — duplicate clustering via connected components
# ---------------------------------------------------------------------------

def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import connected_components

    docs = _ts(spark, sf_dir, "documents")
    # deterministic chain edges: i — i+1 within each decade of doc ids
    # (the synthetic corpus has no natural near-dups; this exercises the
    # iterative min-label propagation against a closed-form oracle)
    ids = docs.select("doc_id").filter(F.col("doc_id") < 50)
    pairs = ids.filter(F.col("doc_id") % 10 != 9).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return connected_components(pairs).orderBy("node")


ORACLE_DEDUP_COMPONENTS = """
SELECT doc_id AS node, (doc_id // 10) * 10 AS component
FROM documents WHERE doc_id < 50 ORDER BY node
"""


# ---------------------------------------------------------------------------
# CORPUS — winnowing fingerprints (MOSS document fingerprinting)
# ---------------------------------------------------------------------------

def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import winnow_fingerprints

    docs = _ts(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(docs, k=4, window=4)


ORACLE_DOC_FINGERPRINTS = f"""
WITH tok AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
      unnest(list_transform({{toks}}, (x, i) -> struct_pack(p := i, t := x))) AS u
    FROM documents WHERE doc_id < 100
  )
), grams AS (
  SELECT doc_id, p,
    md5(concat_ws(' ', t, lead(t,1) OVER w, lead(t,2) OVER w, lead(t,3) OVER w)) AS h,
    lead(t,3) OVER w AS ok
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), sel AS (
  SELECT doc_id,
    min(h) OVER w2 AS fp, count(h) OVER w2 AS c
  FROM grams WHERE ok IS NOT NULL
  WINDOW w2 AS (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
)
SELECT DISTINCT doc_id, fp FROM sel WHERE c = 4
""".replace("{toks}", _SQL_TOKS.replace("trim(lower(text))", "{norm}")).replace("{norm}", _SQL_NORM)


def q_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS detection step: pairs sharing >=2 winnowing fingerprints —
    the containment/plagiarism signal set-Jaccard underweights."""
    from csp_gateway_spark.operators.dedup import fingerprint_overlap_pairs

    docs = _ts(spark, sf_dir, "documents")
    return fingerprint_overlap_pairs(docs, min_shared=2).orderBy("id_a", "id_b")


ORACLE_FINGERPRINT_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
      unnest(list_transform({{toks}}, (x, i) -> struct_pack(p := i, t := x))) AS u
    FROM documents
  )
), grams AS (
  SELECT doc_id, p,
    md5(concat_ws(' ', t, lead(t,1) OVER w, lead(t,2) OVER w, lead(t,3) OVER w)) AS h,
    lead(t,3) OVER w AS ok
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), sel AS (
  SELECT doc_id,
    min(h) OVER w2 AS fp, count(h) OVER w2 AS c
  FROM grams WHERE ok IS NOT NULL
  WINDOW w2 AS (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
), fps AS (
  SELECT DISTINCT doc_id, fp FROM sel WHERE c = 4
), capped AS (
  -- max_fp_frequency=256 contract: boilerplate fingerprints (df > cap)
  -- are dropped before the self-join on BOTH engines
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps
  ) WHERE df <= 256
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b
""".replace("{toks}", _SQL_TOKS.replace("trim(lower(text))", "{norm}")).replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# ANALYTICS — cube / grouping sets (free on Spark; coverage of the
# aggregation surface the engine exposes beyond the reference, SURVEY §2.3)
# ---------------------------------------------------------------------------

def _rf_ls_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed (l_returnflag, l_linestatus, n, sum_qty)
    collapse of lineitem (6 cells) — `sales_cube` and `sales_rollup`
    re-scanned the fact table for the same grouping otherwise (r14);
    cube/rollup grouping sets expand over the cells (sums of the same
    exact decimals/longs)."""

    def build():
        li = _t(spark, sf_dir, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
            )
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "rf_ls_cells", build)


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _rf_ls_cells(spark, sf_dir)
    return (
        cells.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_sq").alias("sum_qty"),
            F.sum("_n").alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "sum_qty",
            "n",
        )
    )


ORACLE_SALES_CUBE = """
SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# ANALYTICS — top-k per group (windowed rank; broadcast dim join)
# ---------------------------------------------------------------------------

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from csp_gateway_spark.plans.scale import broadcast_dim

    cust = _t(spark, sf_dir, "customer")
    nation = broadcast_dim(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    joined = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_custkey", "revenue")
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "revenue", "rk")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT n_name, c_custkey, revenue, rk FROM (
  SELECT n_name, c_custkey, revenue,
         row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rk
  FROM (
    SELECT n_name, c_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, c_custkey
  )
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# ANALYTICS — exact distinct counts per group
# ---------------------------------------------------------------------------

def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# TEXT — quality rule filter (Gopher/C4-style curation)
# ---------------------------------------------------------------------------

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.text import quality_filter

    docs = _ts(spark, sf_dir, "documents")
    return quality_filter(docs).select("doc_id", "keep", "reason")


ORACLE_QUALITY_FILTER = f"""
WITH m AS (
  SELECT doc_id,
    len({_SQL_RAWTOKS}) AS n_tok,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) / length(text)
         ELSE 0.0 END AS pr,
    CASE WHEN len({_SQL_TOKS}) > 0
         THEN len(list_filter({_SQL_TOKS}, x -> list_contains({_EN}, x))) / len({_SQL_TOKS})
         ELSE 0.0 END AS sr
  FROM documents
)
SELECT doc_id,
  CASE WHEN n_tok < 10 THEN 'too_short'
       WHEN n_tok > 100000 THEN 'too_long'
       WHEN pr > 0.3 THEN 'too_much_punct'
       WHEN sr < 0.01 THEN 'low_stopword'
       ELSE NULL END AS reason,
  (CASE WHEN n_tok < 10 THEN 'x' WHEN n_tok > 100000 THEN 'x'
        WHEN pr > 0.3 THEN 'x' WHEN sr < 0.01 THEN 'x' END) IS NULL AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# ANN — IVF top-k (offline cell assignment + nprobe pruned scan;
# rows-only: centroid sampling is engine-seeded, recall pytest-checked)
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_NPROBE = 8


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.similarity import ivf_topk, sample_centroids

    emb = _ts(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    centroids = sample_centroids(emb, _IVF_CELLS, oracle_safe=True)
    out = ivf_topk(emb.filter(F.col("vec_id") != 0), centroids, qv, k=10, nprobe=_IVF_NPROBE)
    return out.select("vec_id", F.round("cos", 6).alias("cos"))


ORACLE_ANN_IVF_TOPK = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, e AS centroid FROM v
  ORDER BY ('0x' || substr(md5(vec_id || ':42'), 1, 15))::BIGINT, vec_id LIMIT {_IVF_CELLS}
),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.centroid) DESC, c.cent_id ASC
           ) AS rn
    FROM v, cents c WHERE v.vec_id != 0
  ) WHERE rn = 1
),
ranked AS (
  SELECT cent_id FROM cents, q
  ORDER BY list_cosine_similarity(centroid, qe) DESC, cent_id ASC LIMIT {_IVF_NPROBE}
)
SELECT vec_id, round(list_cosine_similarity(e, qe), 6) AS cos
FROM assigned, q WHERE cell IN (SELECT cent_id FROM ranked)
ORDER BY list_cosine_similarity(e, qe) DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) deduplication
# (similarity.py::semantic_dedup; Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

_SEMDEDUP_CELLS = 16
_SEMDEDUP_THR = 0.4


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors within
    cosine>=0.3 of any eval vector (vec_id % 41 == 0 plays the eval
    suite), found via the deterministic hyperplane-LSH buckets with a
    hamming-1 multi-probe on the broadcast eval side — the paraphrase
    leakage k-gram decontamination misses."""
    from csp_gateway_spark.operators.similarity import semantic_decontaminate

    emb = _ts(spark, sf_dir, "embeddings")
    out = semantic_decontaminate(
        emb.filter(F.col("vec_id") % 41 != 0),
        emb.filter(F.col("vec_id") % 41 == 0),
        dim=64,
        threshold=0.3,
        bits=8,
    )
    return out.select(
        "vec_id", "eval_id", (F.round("cos", 6) + F.lit(0.0)).alias("cos")
    ).orderBy("vec_id")


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c AS (SELECT vec_id, e, {_sql_lsh_bucket_expr(8)} AS b FROM v WHERE vec_id % 41 != 0),
ev AS (SELECT vec_id AS eid, e AS ee, {_sql_lsh_bucket_expr(8, vec="e")} AS b FROM v WHERE vec_id % 41 = 0),
hits AS (
  SELECT c.vec_id, ev.eid, list_cosine_similarity(c.e, ev.ee) AS cos
  FROM c JOIN ev ON bit_count(xor(c.b, ev.b)) <= 1
  WHERE list_cosine_similarity(c.e, ev.ee) >= 0.3
), ranked AS (
  SELECT vec_id, eid, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid ASC) AS rn
  FROM hits
)
SELECT vec_id, CAST(eid AS BIGINT) AS eval_id, ROUND(cos, 6) + 0.0 AS cos
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paraphrase-level dedup lexical MinHash misses: cluster
    embeddings, drop same-cell vectors whose cosine to a lower-id
    vector is >= threshold (greedy keep-lowest-id)."""
    from csp_gateway_spark.operators.similarity import semantic_dedup

    emb = _ts(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, n_clusters=_SEMDEDUP_CELLS, threshold=_SEMDEDUP_THR, oracle_safe=True
    )
    return out.select("vec_id", "cell", "label").orderBy("vec_id")


ORACLE_SEMANTIC_DEDUP = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, e AS centroid FROM v
  ORDER BY ('0x' || substr(md5(vec_id || ':42'), 1, 15))::BIGINT, vec_id LIMIT {_SEMDEDUP_CELLS}
),
assigned AS (
  SELECT vec_id, label, e, cell FROM (
    SELECT v.vec_id, v.label, v.e, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.centroid) DESC, c.cent_id ASC
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.e, b.e), 6) >= {_SEMDEDUP_THR}
)
SELECT vec_id, cell, label FROM assigned
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Document chunking — overlapping token windows (corpus.py::chunk_documents)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import chunk_documents

    docs = _ts(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP)
    return out.select("doc_id", "chunk_id", "n_tokens", "chunk_text").orderBy(
        "doc_id", "chunk_id"
    )


ORACLE_CHUNK_DOCUMENTS = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "NORMTEXT")} AS t FROM documents
), nz AS (
  SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0
), pos_rows AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS pos, unnest(t) AS token FROM nz
), chunks AS (
  SELECT doc_id, unnest(generate_series(0, CAST(FLOOR((n - 1) / {_CHUNK_TOKENS - _CHUNK_OVERLAP}) AS INT))) AS chunk_id
  FROM nz
)
SELECT p.doc_id, c.chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(p.token, ' ' ORDER BY p.pos) AS chunk_text
FROM pos_rows p JOIN chunks c
  ON p.doc_id = c.doc_id
 AND p.pos >= c.chunk_id * {_CHUNK_TOKENS - _CHUNK_OVERLAP}
 AND p.pos <  c.chunk_id * {_CHUNK_TOKENS - _CHUNK_OVERLAP} + {_CHUNK_TOKENS}
GROUP BY p.doc_id, c.chunk_id ORDER BY p.doc_id, c.chunk_id
""".replace("NORMTEXT", _SQL_NORM)


# ---------------------------------------------------------------------------
# Feature hashing — model-free TF vectors (corpus.py::tf_hash_features)
# ---------------------------------------------------------------------------

_TFHASH_DIM = 64


def q_tf_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF features: token → md5 bucket (engine-portable)
    → one (doc, bucket) count.  Sparse (id, bucket, tf) rows."""
    from csp_gateway_spark.operators.corpus import tf_hash_features

    docs = _ts(spark, sf_dir, "documents")
    out = tf_hash_features(docs, dim=_TFHASH_DIM)
    return out.select("doc_id", "bucket", "tf").orderBy("doc_id", "bucket")


ORACLE_TF_HASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.replace("trim(lower(text))", "NORMTEXT")}) AS token
  FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5(token), 1, 7))::BIGINT % {_TFHASH_DIM} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS tf
FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket
""".replace("NORMTEXT", _SQL_NORM)


# ---------------------------------------------------------------------------
# Temperature source mixing — pretraining mixture smoothing
# (curation.py::mix_fractions/temperature_mix)
# ---------------------------------------------------------------------------


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature-smoothed language mixture over the skewed
    ``lang`` column: tail languages keep ~everything, the head (en) is
    down-sampled by the deterministic hash threshold.  Fractions are
    rounded to 12 decimals on both engines so a last-ulp pow()
    difference can never flip a keep decision."""
    from csp_gateway_spark.operators.curation import mix_fractions, temperature_mix

    docs = _ts(spark, sf_dir, "documents")
    fr = mix_fractions(docs, "lang", alpha=0.5).withColumn("frac", F.round("frac", 12))
    out = temperature_mix(docs, "lang", id_col="doc_id", fractions=fr)
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


ORACLE_TEMPERATURE_MIX = """
WITH c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
z AS (SELECT SUM(POWER(n, 0.5)) AS zz, SUM(n) AS nn FROM c),
f AS (
  SELECT lang, round(LEAST(1.0, POWER(n, 0.5) / zz * nn / n), 12) AS frac FROM c, z
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN f USING (lang)
WHERE ('0x' || substr(md5(d.doc_id || ':23'), 1, 15))::BIGINT
      < CAST(FLOOR(frac * 1152921504606846976) AS BIGINT)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Embedding pooling — chunk→document mean-pool
# (similarity.py::pool_embeddings)
# ---------------------------------------------------------------------------


def q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool all embeddings per label group, exploded to scalar
    (label, idx, v) rows.  Deterministic mode: the per-component mean
    is an id-ordered fold, so the float result is partitioning-
    invariant and engine-reproducible."""
    from csp_gateway_spark.operators.similarity import pool_embeddings

    emb = _ts(spark, sf_dir, "embeddings")
    out = pool_embeddings(emb, group_col="label", mode="mean", deterministic=True)
    return (
        out.select("label", "n_vectors", F.posexplode("pooled").alias("idx", "v"))
        .select(
            "label",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            "idx",
            F.round("v", 6).alias("v"),
        )
        .orderBy("label", "idx")
    )


ORACLE_EMBEDDING_POOL = """
WITH r AS (
  SELECT label, vec_id,
         unnest(generate_series(0, len(e) - 1)) AS idx,
         unnest(e) AS v
  FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), g AS (
  SELECT label, idx, list(v ORDER BY vec_id) AS vs FROM r GROUP BY 1, 2
)
SELECT label, CAST(len(vs) AS BIGINT) AS n_vectors, idx,
       round(list_sum(vs) / len(vs), 6) AS v
FROM g ORDER BY label, idx
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length p50/p90/p99 — the sequence-length
    budget statistic; Spark `percentile` and DuckDB `quantile_cont`
    share the (n-1)q interpolation convention so values hash-match."""
    from csp_gateway_spark.operators.text import length_quantiles

    docs = _ts(spark, sf_dir, "documents")
    return length_quantiles(docs).orderBy("source")


ORACLE_LENGTH_QUANTILES = f"""
WITH lens AS (
  SELECT source, len({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS l FROM documents
), g AS (
  SELECT source, COUNT(*) AS n_docs, quantile_cont(l, [0.5, 0.9, 0.99]) AS q
  FROM lens GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       round(q[1], 6) AS q50, round(q[2], 6) AS q90, round(q[3], 6) AS q99
FROM g ORDER BY source
""".replace("{norm}", _SQL_NORM)


_DSIR_DIM = 1024
_DSIR_TARGET_SRC = "src13"
_DSIR_KEEP = 40

# shared feature/weight CTE prefix: hashed unigram+bigram buckets for
# corpus and target, add-0.5-smoothed distributions, bucket-ordered
# log-ratio fold per doc (mirrors curation.py::dsir_weights exactly)
_DSIR_SQL_PREFIX = f"""
WITH tk AS (
  SELECT doc_id, source, {{toks}} AS t FROM documents
), grams AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(w), 1, 7))::BIGINT % {_DSIR_DIM} AS bucket
  FROM (SELECT doc_id, source, unnest(t) AS w FROM tk)
  UNION ALL
  SELECT doc_id, source,
         ('0x' || substr(md5(t[j] || ' ' || t[j + 1]), 1, 7))::BIGINT % {_DSIR_DIM} AS bucket
  FROM tk, unnest(range(1, len(t))) r(j)
), feats AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM grams GROUP BY 1, 2
), raw AS (
  SELECT bucket, SUM(n) AS rc FROM feats GROUP BY 1
), tgt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc
  FROM grams WHERE source = '{_DSIR_TARGET_SRC}' GROUP BY 1
), rt AS (SELECT CAST(SUM(rc) AS DOUBLE) AS bigr FROM raw),
tt AS (SELECT CAST(SUM(tc) AS DOUBLE) AS bigt FROM tgt),
lr AS (
  SELECT raw.bucket,
         ln((CAST(COALESCE(tc, 0) AS DOUBLE) + 0.5) / (bigt + {0.5 * _DSIR_DIM}))
       - ln((CAST(rc AS DOUBLE) + 0.5) / (bigr + {0.5 * _DSIR_DIM})) AS lr
  FROM raw LEFT JOIN tgt USING (bucket), rt, tt
), sc AS (
  SELECT doc_id, list_sum(list(n * lr ORDER BY bucket)) AS logw
  FROM feats JOIN lr USING (bucket) GROUP BY 1
)
""".replace("{toks}", _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM))


def _dsir_weight_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed DSIR weight table (doc_id, logw, ...) shared by
    `dsir_weights` and `dsir_sample` — the resample is top-k over the
    same weights the report serves, so the hashed-n-gram distribution
    pipeline runs once per session."""

    def build():
        from csp_gateway_spark.operators.curation import dsir_weights

        docs = _ts(spark, sf_dir, "documents")
        target = docs.filter(F.col("source") == _DSIR_TARGET_SRC)
        return dsir_weights(docs, target, dim=_DSIR_DIM).localCheckpoint(
            eager=True
        )

    return _shared(spark, sf_dir, "dsir_weights", build)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169): hashed-n-gram
    log-likelihood ratio of a target source vs the raw corpus.  The
    per-doc sum is a bucket-ordered fold, so doubles are bit-identical
    across engines before the display rounding."""
    out = _dsir_weight_table(spark, sf_dir)
    return out.select("doc_id", F.round("logw", 6).alias("logw")).orderBy("doc_id")


ORACLE_DSIR_WEIGHTS = (
    _DSIR_SQL_PREFIX
    + """
SELECT d.doc_id, round(COALESCE(sc.logw, 0.0), 6) AS logw
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""
)


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance resampling over the DSIR weights —
    deterministic seeded-hash noise, TakeOrdered plan (no global
    sort)."""
    from csp_gateway_spark.operators.curation import dsir_sample

    docs = _ts(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == _DSIR_TARGET_SRC)
    out = dsir_sample(
        docs, target, n_keep=_DSIR_KEEP, dim=_DSIR_DIM, seed=17,
        weights=_dsir_weight_table(spark, sf_dir),
    )
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy("doc_id")


ORACLE_DSIR_SAMPLE = (
    _DSIR_SQL_PREFIX
    + f"""
, noisy AS (
  SELECT d.doc_id,
         COALESCE(sc.logw, 0.0)
         + (-ln(-ln((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':17'), 1, 15))::BIGINT + 0.5)
                    / 1152921504606846976.0))) AS score
  FROM documents d LEFT JOIN sc USING (doc_id)
)
SELECT doc_id, round(score, 6) AS score FROM noisy
ORDER BY score DESC, doc_id LIMIT {_DSIR_KEEP}
"""
)


_STD_SCALE = 1 << 20


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening via exact fixed-point moments (2·dim
    scalars to the driver, inlined back as literals) — the metric-prep
    step before ANN/k-means.  Flattened to scalar rows for the gate."""
    from csp_gateway_spark.operators.similarity import embedding_standardize

    emb = _ts(spark, sf_dir, "embeddings")
    out = embedding_standardize(emb, scale=_STD_SCALE)
    return out.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "_v")
    ).select("vec_id", "pos", F.round("_v", 6).alias("val"))


ORACLE_EMBEDDING_STANDARDIZE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id, j - 1 AS pos, e[j] AS x,
         CAST(floor(e[j] * {float(_STD_SCALE)}) AS BIGINT) AS qq
  FROM v, unnest(generate_series(1, len(e))) s(j)
), mom AS (
  SELECT pos, SUM(qq) AS s1, SUM(qq * qq) AS s2, COUNT(*) AS n FROM q GROUP BY 1
), st AS (
  SELECT pos,
         CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_STD_SCALE)}) AS mu,
         sqrt(CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_STD_SCALE)} * {float(_STD_SCALE)})
              - (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_STD_SCALE)}))
                * (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_STD_SCALE)}))
              + 1e-09) AS sd
  FROM mom
)
SELECT q.vec_id, CAST(q.pos AS INT) AS pos, round((q.x - st.mu) / st.sd, 6) AS val
FROM q JOIN st USING (pos)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: most-similar vectors with a DIFFERENT
    label than the query — label filter pushed to the scan +
    TakeOrdered."""
    from csp_gateway_spark.operators.similarity import hard_negatives

    emb = _ts(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding", "label").collect()[0]
    out = hard_negatives(emb, row["embedding"], row["label"], k=10)
    return out.select("vec_id", F.round("cos", 6).alias("cos")).orderBy("vec_id")


ORACLE_HARD_NEGATIVES = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS ql FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos
FROM embeddings, q WHERE label != ql
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC LIMIT 10
"""


_COV_VOCAB = 200  # same size the vocab_encode gate trains


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer coverage report: per-source OOV rate against the
    corpus-trained vocabulary — exact integer count ratios."""
    from csp_gateway_spark.operators.corpus import build_vocab, vocab_coverage

    docs = _ts(spark, sf_dir, "documents")
    vocab = build_vocab(docs, size=_COV_VOCAB)
    out = vocab_coverage(docs, vocab)
    return out.select(
        "source",
        "total_tokens",
        "oov_tokens",
        F.round("oov_rate", 6).alias("oov_rate"),
    ).orderBy("source")


ORACLE_VOCAB_COVERAGE = f"""
WITH tokrows AS (
  SELECT doc_id, unnest(tk) AS token
  FROM (SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS tk FROM documents)
), vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS token_id
  FROM tokrows GROUP BY token
  QUALIFY token_id < {_COV_VOCAB + 1}
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       round(CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM tokrows tr
LEFT JOIN vocab v USING (token)
JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
""".replace("{norm}", _SQL_NORM)


_BLOCK_TERMS = ["slow", "spill"]


def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate (LDNOOBW-style): whole-word screening against a
    literal term array — one scan-local arrays_overlap predicate, no
    join, no shuffle."""
    from csp_gateway_spark.operators.curation import blocklist_filter

    docs = _ts(spark, sf_dir, "documents")
    out = blocklist_filter(docs, _BLOCK_TERMS, mode="flag")
    return out.select("doc_id", "blocked").orderBy("doc_id")


ORACLE_BLOCKLIST_SCREEN = f"""
SELECT doc_id,
       len(list_intersect({_SQL_TOKS.replace("trim(lower(text))", "{norm}")},
                          ['slow', 'spill'])) > 0 AS blocked
FROM documents ORDER BY doc_id
""".replace("{norm}", _SQL_NORM)


_SHUF_SHARDS = 8


def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training order: (shard, pos) addresses from the
    seeded hash — per-shard window sorts only, never a global
    order-by."""
    from csp_gateway_spark.operators.curation import deterministic_shuffle

    docs = _ts(spark, sf_dir, "documents")
    out = deterministic_shuffle(docs, n_shards=_SHUF_SHARDS, seed=31)
    return out.select("doc_id", "shard", "pos").orderBy("doc_id")


ORACLE_DETERMINISTIC_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':31'), 1, 15))::BIGINT AS hv
  FROM documents
)
SELECT doc_id, CAST(hv % {_SHUF_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY hv % {_SHUF_SHARDS} ORDER BY hv, doc_id) - 1 AS INT) AS pos
FROM h ORDER BY doc_id
"""


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization round-trip digest — Python unicodedata via
    Arrow batches, hash-matched against DuckDB's nfc_normalize."""
    from csp_gateway_spark.operators.text import unicode_normalize

    docs = _ts(spark, sf_dir, "documents")
    out = unicode_normalize(docs, form="NFC")
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("nfc_digest")
    ).orderBy("doc_id")


ORACLE_UNICODE_NFC = """
SELECT doc_id, md5(nfc_normalize(text)) AS nfc_digest
FROM documents ORDER BY doc_id
"""


def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake detection: per-doc count of UTF-8-as-Latin-1 artifact
    sequences — all-native regexp, single scan."""
    from csp_gateway_spark.operators.text import encoding_quality

    docs = _ts(spark, sf_dir, "documents")
    out = encoding_quality(docs)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_mojibake").cast("long").alias("n_mojibake"),
        F.round("mojibake_per_kchar", 6).alias("mojibake_per_kchar"),
        "has_replacement",
    ).orderBy("doc_id")


def _oracle_encoding_quality() -> str:
    from csp_gateway_spark.operators.text import _MOJIBAKE_RE

    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '{_MOJIBAKE_RE}')) AS BIGINT) AS n_mojibake,
       round(CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '{_MOJIBAKE_RE}')) AS DOUBLE)
                       * 1000.0 / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END, 6) AS mojibake_per_kchar,
       contains(text, '�') AS has_replacement
FROM documents ORDER BY doc_id
"""


_CDC_W = 16
_CDC_D = 64


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS-style): boundaries wherever the
    trailing 16-char window hashes to 0 mod 64 — chunk hashes survive
    insertions, enabling storage-level dedup.  Pure scan-local array
    projection."""
    from csp_gateway_spark.operators.dedup import cdc_chunks

    docs = _ts(spark, sf_dir, "documents")
    out = cdc_chunks(docs, window=_CDC_W, divisor=_CDC_D)
    return out.select("doc_id", "chunk_idx", "start", "length", "chash").orderBy(
        "doc_id", "chunk_idx"
    )


ORACLE_CDC_CHUNKS = f"""
WITH c AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
), ends AS (
  SELECT doc_id, text, n,
    list_filter(
      list_transform(range({_CDC_W}, greatest(n, {_CDC_W}) + 1),
        i -> CASE WHEN i <= n AND ('0x' || substr(md5(substr(text, CAST(i AS INT) - {_CDC_W - 1}, {_CDC_W})), 1, 7))::BIGINT % {_CDC_D} = 0
                  THEN i ELSE -1 END),
      x -> x != -1) AS e
  FROM c
), cuts AS (
  SELECT doc_id, text,
         list_concat(list_concat([CAST(0 AS BIGINT)], e), [CAST(n AS BIGINT)]) AS cu
  FROM ends
), spans AS (
  SELECT doc_id, text, CAST(j - 1 AS INT) AS chunk_idx,
         CAST(cu[j] AS BIGINT) AS s, CAST(cu[j + 1] - cu[j] AS BIGINT) AS l
  FROM cuts, unnest(range(1, len(cu))) r(j)
  WHERE cu[j + 1] - cu[j] > 0
)
SELECT doc_id, chunk_idx, s AS start, l AS length,
       md5(substr(text, CAST(s AS INT) + 1, CAST(l AS INT))) AS chash
FROM spans ORDER BY doc_id, chunk_idx
"""


_IDX_HASHES = 16
_IDX_BANDS = 8
_IDX_ROWS = _IDX_HASHES // _IDX_BANDS


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: the 1-in-5 "new batch" probes the LSH
    band index of the other 4/5 "existing corpus" — candidates found
    without rescanning the corpus (the daily-ingest shape)."""
    from csp_gateway_spark.operators.dedup import dedup_index, dedup_probe

    docs = _ts(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    # signatures are per-doc deterministic: the shared 16-hash table
    # filtered per subset is identical to recomputing per subset
    sigs = _mh_signatures(spark, sf_dir)
    idx = dedup_index(
        existing, _IDX_HASHES, _IDX_BANDS, oracle_safe=True,
        signatures=sigs.filter(F.col("doc_id") % 5 != 0),
    )
    out = dedup_probe(
        batch, idx, _IDX_HASHES, _IDX_BANDS, oracle_safe=True,
        signatures=sigs.filter(F.col("doc_id") % 5 == 0),
    )
    return out.orderBy("new_id", "matched_id")


ORACLE_DEDUP_INCREMENTAL = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles()} AS s FROM documents
), sig AS (
  SELECT doc_id, list_transform(range(0, {_IDX_HASHES}), seed ->
    list_min(list_transform(s, sx -> {_sql_affine_minhash(_IDX_HASHES, elem="sx")}))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band*{_IDX_ROWS}+1 : band*{_IDX_ROWS}+{_IDX_ROWS}], '|') AS bh
  FROM sig, (SELECT unnest(range(0, {_IDX_BANDS})) AS band) bs
)
SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS matched_id
FROM banded n JOIN banded e ON n.band = e.band AND n.bh = e.bh
WHERE n.doc_id % 5 = 0 AND e.doc_id % 5 != 0
ORDER BY new_id, matched_id
"""


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination audit: shingle hit fraction + max
    distinct-train-doc count.  Corpus reduces to a hash→count table
    before the (small) eval side joins it."""
    from csp_gateway_spark.operators.curation import contamination_report

    docs = _ts(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    sh = _sh5(spark, sf_dir)
    out = contamination_report(
        corpus, eval_set, k=5,
        c_sh=sh.filter(F.col("doc_id") % 97 != 0),
        e_sh=sh.filter(F.col("doc_id") % 97 == 0),
    )
    return out.select(
        "eval_id",
        "n_shingles",
        "n_hit",
        F.round("hit_frac", 6).alias("hit_frac"),
        "n_corpus_docs",
    ).orderBy("eval_id")


ORACLE_CONTAMINATION_REPORT = f"""
WITH shc AS (
  SELECT doc_id, unnest({_sql_shingles(5)}) AS s FROM documents WHERE doc_id % 97 != 0
), ctab AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS ndocs FROM (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shc
  ) GROUP BY h
), she AS (
  SELECT DISTINCT doc_id AS eval_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_sql_shingles(5)}) AS s FROM documents WHERE doc_id % 97 = 0)
), j AS (
  SELECT she.eval_id, ctab.ndocs FROM she LEFT JOIN ctab USING (h)
)
SELECT eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN ndocs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       round(CAST(SUM(CASE WHEN ndocs IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hit_frac,
       CAST(MAX(COALESCE(ndocs, 0)) AS BIGINT) AS n_corpus_docs
FROM j GROUP BY eval_id ORDER BY eval_id
"""


_EPOCHS = {"src13": 2.4, "src8": 0.5}


def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixture materialization: src13 repeated ~2.4×,
    src8 kept at ~0.5×, everything else 1× — deterministic hash
    thresholds, pure projection plan (explode only)."""
    from csp_gateway_spark.operators.curation import epoch_upsample

    docs = _ts(spark, sf_dir, "documents")
    out = epoch_upsample(docs, _EPOCHS, seed=23)
    return out.select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")


ORACLE_EPOCH_UPSAMPLE = """
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src13' THEN CAST(2.4 AS DOUBLE)
              WHEN source = 'src8'  THEN CAST(0.5 AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS e,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':23'), 1, 15))::BIGINT AS h
  FROM documents
), c AS (
  SELECT doc_id, source,
         CAST(floor(e) AS BIGINT)
         + CASE WHEN h < CAST(floor((e - floor(e)) * 1152921504606846976.0) AS BIGINT)
                THEN 1 ELSE 0 END AS copies
  FROM base
)
SELECT doc_id, source, CAST(rep AS BIGINT) AS epoch
FROM c, unnest(generate_series(1, copies)) r(rep)
WHERE copies > 0
ORDER BY doc_id, epoch
"""


_PMI_MIN = 5
_PMI_TOPK = 50


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI adjacent word pairs (collocations) — the phrases a
    tokenizer should keep whole.  Two count shuffles + TakeOrdered."""
    from csp_gateway_spark.operators.corpus import pmi_collocations

    docs = _ts(spark, sf_dir, "documents")
    out = pmi_collocations(
        docs,
        min_count=_PMI_MIN,
        topk=_PMI_TOPK,
        c12=_bigram_cells(spark, sf_dir).select("w1", "w2", F.col("c").alias("c12")),
        c1=_tok_counts(spark, sf_dir).select("token", F.col("_c").alias("c")),
    )
    return out.select(
        "w1", "w2", "c12", F.round("pmi", 6).alias("pmi")
    ).orderBy("w1", "w2")


ORACLE_PMI_COLLOCATIONS = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS t FROM documents
), big AS (
  SELECT t[j] AS w1, t[j + 1] AS w2
  FROM tk, unnest(range(1, len(t))) r(j)
), c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big),
scored AS (
  SELECT c12.w1, c12.w2, c12.c12,
         ln((nn.n * CAST(c12.c12 AS DOUBLE))
            / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) AS pmi
  FROM c12
  JOIN c1 a ON c12.w1 = a.token
  JOIN c1 b ON c12.w2 = b.token, nn
  WHERE c12.c12 >= {_PMI_MIN}
)
SELECT w1, w2, c12, round(pmi, 6) AS pmi FROM (
  SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK}
)
""".replace("{norm}", _SQL_NORM)


_ZIPF_TOPK = 100


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit of the corpus token distribution (OLS on
    log-log rank/frequency over the top-100 head — TakeOrdered, no
    global sort).  A corpus-health statistic: natural text ≈ 1."""
    from csp_gateway_spark.operators.corpus import zipf_fit

    docs = _ts(spark, sf_dir, "documents")
    out = zipf_fit(docs, topk=_ZIPF_TOPK)
    return out.select(
        "n_fit",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("zipf_exponent", 6).alias("zipf_exponent"),
    )


ORACLE_ZIPF_FIT = f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
), cnt AS (
  SELECT token, COUNT(*) AS n FROM tok GROUP BY 1
), head AS (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM cnt QUALIFY rank <= {_ZIPF_TOPK}
), xy AS (
  SELECT rank, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM head
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_sum(list(x ORDER BY rank)) AS sx,
         list_sum(list(y ORDER BY rank)) AS sy,
         list_sum(list(x * y ORDER BY rank)) AS sxy,
         list_sum(list(x * x ORDER BY rank)) AS sxx
  FROM xy
)
SELECT k AS n_fit,
       round((CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS slope,
       round((sy - ((CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(k AS DOUBLE), 6) AS intercept,
       round(-((CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx)), 6) AS zipf_exponent
FROM s
""".replace("{norm}", _SQL_NORM)


_SNP_K = 12
#: boilerplate cap mirrored from dedup.shared_ngram_pairs /
#: containment_pairs (max_ngram_frequency default)
_SNP_DF_CAP = 256


def _snp_edges(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed shared-12-gram candidate-pair table (the
    exact-blocking similarity graph over documents) shared by the six
    graph/pair gates (edit_distance_pairs, pagerank_docs,
    triangle_count, kcore, label_propagation, dup_cluster_stats) —
    the `_survival_steps` checkpoint-and-share pattern: the shingle
    blocking scan runs once per sf_dir instead of once per gate."""

    def build():
        from csp_gateway_spark.operators.dedup import shared_ngram_pairs

        docs = _ts(spark, sf_dir, "documents")
        return shared_ngram_pairs(
            docs, k=_SNP_K, sh=_sh12(spark, sf_dir)
        ).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "snp_edges", build)

def _sh12(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed distinct (doc_id, 12-gram md5 hash) table —
    the shingle-hash base both `shared_ngram_pairs` (via `_snp_edges`)
    and `containment_pairs` rebuild identically otherwise (same k=12,
    same md5-base15 hash; r14).  Fixed-width longs, corpus-linear."""

    def build():
        from csp_gateway_spark.operators.dedup import _md5_base15, shingle_rows

        docs = _ts(spark, sf_dir, "documents")
        return (
            shingle_rows(docs, "text", "doc_id", _SNP_K)
            .select(F.col("doc_id"), _md5_base15(F.col("_s")).alias("_h"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "sh12", build)


def _sh5(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed distinct (doc_id, 5-gram md5 hash) table over
    ALL documents — the shingle-hash base `decontaminate`,
    `bloom_decontaminate` and `contamination_report` each rebuilt
    TWICE otherwise (corpus + eval side, same k=5, same md5-base15
    hash; the corpus/eval splits are doc_id filters, and the hash is
    per-(doc, shingle) deterministic, so filtering the shared table
    per subset is identical to re-shingling the subset; r14).
    Fixed-width longs, corpus-linear."""

    def build():
        from csp_gateway_spark.operators.dedup import _md5_base15, shingle_rows

        docs = _ts(spark, sf_dir, "documents")
        return (
            shingle_rows(docs, "text", "doc_id", _DECON_K)
            .select(F.col("doc_id"), _md5_base15(F.col("_s")).alias("_h"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "sh5", build)


def _sh8(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed POSITIONED 8-gram hash table (doc_id, source,
    _p, _h) — the gram base `substring_spans`, `ngram_novelty` and
    `source_overlap` each rebuilt identically otherwise (same k=8,
    same md5-base15 hash over the same `norm_tokens` stream; r14).
    Long docs (len>=k) emit one row per position (_p 0-based); short
    docs emit ONE whole-doc-hash row marked _p = -1 (novelty's and
    source_overlap's short-doc arm; spans excludes them by filtering
    _p >= 0, matching its window form which emits nothing below k).
    Fixed-width longs, corpus-linear."""

    def build():
        from csp_gateway_spark.operators.dedup import _md5_base15

        from csp_gateway_spark.operators.text import norm_tokens

        k = 8
        docs = _ts(spark, sf_dir, "documents")
        grams = F.when(
            F.size("_tk") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("_tk") - F.lit(k - 1)),
                lambda i: F.struct(
                    (i - F.lit(1)).alias("_p"),
                    _md5_base15(F.concat_ws(" ", F.slice("_tk", i, k))).alias("_h"),
                ),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.lit(-1).alias("_p"),
                    _md5_base15(F.concat_ws(" ", F.col("_tk"))).alias("_h"),
                )
            )
        )
        return (
            docs.select(
                "doc_id", "source", norm_tokens(F.col("text")).alias("_tk")
            )
            .select("doc_id", "source", F.explode(grams).alias("_g"))
            .select("doc_id", "source", F.col("_g._p").alias("_p"), F.col("_g._h").alias("_h"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "sh8_positioned", build)


def _src_tok_counts(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed (source, token, _c) token count table — the
    `norm_tokens` occurrence collapse `source_drift` builds and the
    corpus-wide unigram tables (`_tok_counts`) derive from by summing
    over sources (exact integer sums; r14).  Vocabulary×sources
    bounded, far smaller than the token stream."""

    def build():
        from csp_gateway_spark.operators.text import norm_tokens

        docs = _ts(spark, sf_dir, "documents")
        return (
            docs.select(
                "source", F.explode(norm_tokens(F.col("text"))).alias("token")
            )
            .groupBy("source", "token")
            .agg(F.count(F.lit(1)).alias("_c"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "src_tok_counts", build)


def _tok_counts(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Corpus-wide (token, _c) unigram counts, derived from
    `_src_tok_counts` (Σ over sources == the direct token_rows groupBy
    — exact integers; the corpus has no zero-token docs, probed at all
    three SFs, so the token stream IS the k=1 gram stream).  Serves
    `vocab_topk`, `pmi_collocations`' unigram side and
    `distinct_ngrams`' n=1 leg."""

    def build():
        return (
            _src_tok_counts(spark, sf_dir)
            .groupBy("token")
            .agg(F.sum("_c").alias("_c"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "tok_counts", build)


def _rake_occ(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed UNCAPPED (doc_id, phrase, plen) RAKE phrase
    table — `rake_keywords` (cap 4, a pure plen filter) and
    `textrank_keywords` (uncapped) each rebuilt the identical
    stopword-run split otherwise (r14)."""

    def build():
        from csp_gateway_spark.operators.corpus import rake_phrases

        docs = _ts(spark, sf_dir, "documents")
        return rake_phrases(docs, None, 10**9).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "rake_occ", build)


def _postings(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed (token, doc_id, tf) posting table — the
    retrieval family's shared inverted index (`bm25_topk`,
    `hybrid_search`'s lexical side, `retrieval_metrics`, `mmr_rerank`
    and `tfidf` each rebuilt it; r14).  (doc, distinct-token)
    bounded."""

    def build():
        from csp_gateway_spark.operators.retrieval import postings

        docs = _ts(spark, sf_dir, "documents")
        return postings(docs).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "postings", build)


def _doc_lengths(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed (doc_id, dl) token-length table (scan-local
    semantics preserved — built from `doc_lengths` itself so docs
    with zero tokens keep their dl=0 row; r14)."""

    def build():
        from csp_gateway_spark.operators.retrieval import doc_lengths

        docs = _ts(spark, sf_dir, "documents")
        return doc_lengths(docs).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "doc_lengths", build)


def _gram_counts3(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed (_s, _c) 3-gram shingle count table
    (`shingle_rows` semantics, short-doc arm included) — shared by
    `token_coverage` (k=3) and `distinct_ngrams`' n=3 leg (r14)."""

    def build():
        from csp_gateway_spark.operators.dedup import shingle_rows

        docs = _ts(spark, sf_dir, "documents")
        return (
            shingle_rows(docs, "text", "doc_id", 3)
            .groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_c"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "gram_counts3", build)


def _bigram_cells(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed corpus bigram count table (w1, w2, c) —
    `lm_perplexity` (model side) and `kn_bigram_entropy` each rebuilt
    the identical tokenize + bigram explode + groupBy otherwise
    (`bigram_rows` zip_with pairs == `shingle_rows(k=2)` pairs: same
    `norm_tokens` stream, <2-token docs contribute nothing to either;
    r14).  Vocabulary-squared-bounded, far smaller than the corpus."""

    def build():
        from csp_gateway_spark.operators.corpus import bigram_rows

        docs = _ts(spark, sf_dir, "documents")
        return (
            bigram_rows(docs)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "bigram_cells", build)


def _mh_signatures(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed 16-hash portable minhash signature table over
    documents (k=3 shingles) — per-doc deterministic, so it serves
    BOTH banding configurations built on it: the pair family
    (`_MH_PAIR_HASHES`=16 × `_MH_PAIR_BANDS`=4 via `_mh_candidates`)
    and the incremental index (`_IDX_HASHES`=16 × `_IDX_BANDS`=8,
    filtered per doc subset in `dedup_incremental`).  The signature
    scan (tokenize + shingle + 16 md5-affine minhashes per doc) is
    the dominant upstream cost of all three queries (r14)."""

    def build():
        from csp_gateway_spark.operators.dedup import minhash_signatures

        docs = _ts(spark, sf_dir, "documents")
        return minhash_signatures(
            docs, num_hashes=_MH_PAIR_HASHES, k=_SHINGLE_K, oracle_safe=True
        ).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "mh_signatures16", build)


def _mh_candidates(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed raw banded-LSH candidate-pair table (the
    `_MH_PAIR_HASHES`/`_MH_PAIR_BANDS` portable configuration) shared
    by `dedup_minhash_pairs` and `lsh_eval` — both run the identical
    signature scan → band explode → bucket join otherwise (r14)."""

    def build():
        from csp_gateway_spark.operators.dedup import minhash_candidate_pairs

        docs = _ts(spark, sf_dir, "documents")
        # minhash_candidate_pairs already localCheckpoints
        return minhash_candidate_pairs(
            docs,
            num_hashes=_MH_PAIR_HASHES,
            bands=_MH_PAIR_BANDS,
            k=_SHINGLE_K,
            oracle_safe=True,
            signatures=_mh_signatures(spark, sf_dir),
        )

    return _shared(spark, sf_dir, "mh_candidates", build)


def _snp_scored(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """ONE checkpointed (id_a, id_b, jaccard) verification of the
    shared 12-gram blocking pairs at 3-shingle Jaccard — shared by
    `lsh_eval` (truth side, filtered ≥0.5) and
    `dedup_threshold_sweep` (the sweep's scored table); both ran the
    identical semi-join + two-sided shingle join otherwise (r14)."""

    def build():
        from csp_gateway_spark.operators.dedup import ngram_jaccard_pairs

        docs = _ts(spark, sf_dir, "documents")
        return ngram_jaccard_pairs(
            docs, _snp_edges(spark, sf_dir), k=_SHINGLE_K
        ).select("id_a", "id_b", "jaccard").localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "snp_scored", build)


_PR_DAMP = 0.85
_PR_ITERS = 2
_PR_FOLD_BUCKETS = 256
_LP_ITERS = 2


def _snp_sql_prefix() -> str:
    """Shared candidate-pair CTE: docs sharing ≥1 token 12-gram
    (mirrors dedup.shared_ngram_pairs, incl. its boilerplate cap —
    shingles with document frequency > {_SNP_DF_CAP} are dropped
    before pairing)."""
    return f"""
WITH shs AS (
  SELECT doc_id, unnest({_sql_shingles(_SNP_K)}) AS s FROM documents
), hh0 AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shs
), hh AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hh0
  ) WHERE df <= {_SNP_DF_CAP}
), cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
)
"""


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning sweep over the shared 12-gram blocking
    graph: verified-pair and implicated-doc counts per candidate
    Jaccard cutoff — one verify pass, broadcast threshold cross."""
    from csp_gateway_spark.operators.dedup import dedup_threshold_sweep

    docs = _ts(spark, sf_dir, "documents")
    return dedup_threshold_sweep(
        docs, thresholds=(0.5, 0.7, 0.8, 0.9),
        blocking_pairs=_snp_edges(spark, sf_dir),
        scored_pairs=_snp_scored(spark, sf_dir),
    )


ORACLE_DEDUP_THRESHOLD_SWEEP = (
    _snp_sql_prefix()
    + f"""
, shj AS (
  SELECT doc_id, {{sh3}} AS s FROM documents
), scored AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM cpairs p JOIN shj a ON p.id_a = a.doc_id JOIN shj b ON p.id_b = b.doc_id
), th AS (
  SELECT unnest([0.5, 0.7, 0.8, 0.9]) AS threshold
), np AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM th JOIN scored ON j >= threshold GROUP BY 1
), nd AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
  FROM th JOIN (
    SELECT j, id_a AS d FROM scored UNION ALL SELECT j, id_b AS d FROM scored
  ) ON j >= threshold GROUP BY 1
)
SELECT th.threshold AS threshold,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs
FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
ORDER BY threshold
"""
).replace("{sh3}", _sql_shingles(3))


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify over exact-blocking candidates: pairs
    sharing a 12-gram, scored by JVM-side Levenshtein (O(len²) only on
    candidates, never the corpus square)."""
    from csp_gateway_spark.operators.dedup import edit_verify, shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    pairs = _snp_edges(spark, sf_dir)
    out = edit_verify(pairs, docs, threshold=1.0)
    return out.select(
        "id_a", "id_b", "dist", F.round("sim", 6).alias("sim")
    ).orderBy("id_a", "id_b")


ORACLE_EDIT_DISTANCE_PAIRS = (
    _snp_sql_prefix()
    + """
SELECT p.id_a, p.id_b,
       CAST(levenshtein(da.text, db.text) AS INT) AS dist,
       round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                   / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE), 6) AS sim
FROM cpairs p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
ORDER BY p.id_a, p.id_b
"""
)


def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the shared-12-gram similarity graph
    (2 unrolled rounds; src-ordered folds make ranks engine-exact) —
    template-hub detection for the dedup family."""
    from csp_gateway_spark.operators.corpus import pagerank
    from csp_gateway_spark.operators.dedup import shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    edges = _snp_edges(spark, sf_dir)
    out = pagerank(
        edges, iters=_PR_ITERS, damping=_PR_DAMP, fold_buckets=_PR_FOLD_BUCKETS
    )
    return out.select("node", F.round("pr", 6).alias("pr")).orderBy("node")


def _oracle_pagerank_docs() -> str:
    d = _PR_DAMP
    tele = repr(1.0 - d)  # exact IEEE round-trip of Python's 1.0 - 0.85
    body = f"""
, e0 AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM cpairs
), dg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM e0),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn)
"""
    for it in range(1, _PR_ITERS + 1):
        prev = f"p{it - 1}"
        body += f"""
, c{it} AS (
  SELECT e0.src, e0.dst, {prev}.pr / CAST(dg.deg AS DOUBLE) AS c
  FROM e0 JOIN {prev} ON e0.src = {prev}.node JOIN dg ON e0.src = dg.src
), b{it} AS (
  SELECT dst, src % {_PR_FOLD_BUCKETS} AS b,
         list_sum(list(c ORDER BY src)) AS bs
  FROM c{it} GROUP BY 1, 2
), s{it} AS (
  SELECT dst AS node, list_sum(list(bs ORDER BY b)) AS s FROM b{it} GROUP BY 1
), p{it} AS (
  SELECT nodes.node, {tele} / nn.n + {d} * COALESCE(s{it}.s, 0.0) AS pr
  FROM nodes LEFT JOIN s{it} USING (node), nn
)
"""
    return (
        _snp_sql_prefix()
        + body
        + f"\nSELECT node, round(pr, 6) AS pr FROM p{_PR_ITERS} ORDER BY node\n"
    )


_LRQ_DIM = 64
_LRQ_ITERS = 2

_LRQ_FEATURE_CTE = f"""
SELECT doc_id, ('0x' || substr(md5(token), 1, 7))::BIGINT % {_LRQ_DIM} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS x
FROM (SELECT doc_id, unnest({{toks}}) AS token FROM documents)
GROUP BY 1, 2
""".replace("{toks}", _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM))

_LRQ_LABEL_CTE = (
    "SELECT doc_id, CASE WHEN source = 'src13' THEN 1 ELSE 0 END AS y FROM documents"
)


def _lrq_parts(spark: SparkSession, sf_dir: str):
    from csp_gateway_spark.operators.corpus import tf_hash_features

    docs = _ts(spark, sf_dir, "documents")
    # the hashed-TF frame feeds training rounds AND scoring across two
    # gate queries — one bounded checkpoint (≤ docs·min(dim, tokens)
    # rows) instead of re-running tokenize+hash per consumer
    feats = _shared(
        spark, sf_dir, "lrq_features",
        lambda: tf_hash_features(docs, dim=_LRQ_DIM)
        .withColumnRenamed("tf", "x")
        .localCheckpoint(eager=False),
    )
    labels = docs.select(
        "doc_id", (F.col("source") == "src13").cast("int").alias("y")
    )
    return docs, feats, labels


def _lrq_weights(spark: SparkSession, sf_dir: str, feats, labels) -> list:
    """Trained LR weights memoized per (session, sf_dir):
    `lr_quality_weights` and `lr_quality_scores` share ONE training
    run (the weights are a collected dim+1 scalar list — a
    deterministic bounded intermediate)."""
    from csp_gateway_spark.operators.classifier import lr_train

    return _shared(
        spark, sf_dir, "lrq_weights",
        lambda: lr_train(feats, labels, dim=_LRQ_DIM, iters=_LRQ_ITERS),
    )


def q_lr_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (fastText-style linear quality
    filter): 2 full-batch gradient rounds on hashed-TF features, label
    = "doc comes from the target source".  The oracle unrolls the same
    rounds in SQL, so the trained WEIGHTS hash-match — an iterative
    learned model checked by value, not rows-only."""
    _, feats, labels = _lrq_parts(spark, sf_dir)
    w = _lrq_weights(spark, sf_dir, feats, labels)
    wdf = spark.createDataFrame(
        [(b, w[b]) for b in range(len(w))], "bucket int, w double"
    )
    # + 0.0 folds any IEEE −0.0 to +0.0 (mirrors the oracle)
    return wdf.select(
        "bucket", (F.round("w", 6) + F.lit(0.0)).alias("w")
    ).orderBy("bucket")


def _oracle_lr_quality_weights() -> str:
    from csp_gateway_spark.operators.classifier import lr_oracle_sql

    return lr_oracle_sql(_LRQ_FEATURE_CTE, _LRQ_LABEL_CTE, _LRQ_DIM, iters=_LRQ_ITERS)


def q_lr_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the trained linear model — the
    filter stage a 100 TB curation run applies after training on a
    small labeled sample."""
    from csp_gateway_spark.operators.classifier import lr_score

    docs, feats, labels = _lrq_parts(spark, sf_dir)
    w = _lrq_weights(spark, sf_dir, feats, labels)
    out = lr_score(feats, w, docs)
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy("doc_id")


def _oracle_lr_quality_scores() -> str:
    from csp_gateway_spark.operators.classifier import lr_oracle_sql

    base = lr_oracle_sql(_LRQ_FEATURE_CTE, _LRQ_LABEL_CTE, _LRQ_DIM, iters=_LRQ_ITERS)
    # swap the final weight projection for a scoring stage over the
    # same trained CTEs
    head, _tail = base.rsplit("\nSELECT CAST(bucket AS INT)", 1)
    n = _LRQ_ITERS
    return (
        head
        + f"""
, ms AS (
  SELECT f.doc_id, list_sum(list(CAST(f.x AS DOUBLE) * w.w ORDER BY f.bucket)) AS m
  FROM f JOIN w{n} w USING (bucket) GROUP BY f.doc_id
)
SELECT lab.doc_id,
       round(1.0 / (1.0 + exp(-(COALESCE(ms.m, 0.0) + wb{n}.b))), 6) AS score
FROM lab LEFT JOIN ms USING (doc_id), wb{n}
ORDER BY lab.doc_id
"""
    )


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch (HdrHistogram bucket math,
    pure integer — engine-exact): per-source char-length p50/p90/p99
    estimates within 2^-6 relative error.  The scalable twin of the
    exact ``length_quantiles`` (which must shuffle raw values); this
    one reduces to ≤4k cells per group then walks them."""
    from csp_gateway_spark.operators.sketches import hdr_cells, hdr_quantiles

    docs = _ts(spark, sf_dir, "documents")
    vals = docs.select("source", F.length("text").alias("v"))
    cells = hdr_cells(vals, "v", ["source"])
    out = hdr_quantiles(cells, (0.5, 0.9, 0.99), ["source"])
    return out.select("source", "q", "est", "n").orderBy("source", "q")


def _oracle_hdr_quantiles() -> str:
    from csp_gateway_spark.operators.sketches import hdr_oracle_sql

    return hdr_oracle_sql("SELECT source, length(text) AS v FROM documents")


_PQ_M = 8
_PQ_K = 16
_PQ_DSUB = 8  # 64-dim embeddings / 8 subspaces

# shared PQ CTE prefix: deterministic sampled codebook (codes dense in
# hash order) + per-(vector, subspace) nearest-code assignment — mirrors
# similarity.py::pq_train(iters=0)/pq_encode exactly
_PQ_SQL_PREFIX = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cents AS (
  SELECT e, row_number() OVER (
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 15))::BIGINT, vec_id
    ) - 1 AS code
  FROM v QUALIFY code < {_PQ_K}
), dists AS (
  SELECT v.vec_id, sub.j, c.code,
         list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
           i -> (v.e[sub.j * {_PQ_DSUB} + i] - c.e[sub.j * {_PQ_DSUB} + i])
              * (v.e[sub.j * {_PQ_DSUB} + i] - c.e[sub.j * {_PQ_DSUB} + i]))) AS d
  FROM v, range({_PQ_M}) sub(j), cents c
), enc AS (
  SELECT vec_id, j, code FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) = 1
)
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 64-dim float
    vectors → 8 one-byte codes.  Codebook is the deterministic sampled
    bootstrap; codes flatten to a string for the gate (array rule)."""
    from csp_gateway_spark.operators.similarity import pq_encode, pq_train

    emb = _ts(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=0)
    out = pq_encode(emb, cb)
    return out.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda x: x.cast("string")), " ").alias("codes_str"),
    ).orderBy("vec_id")


ORACLE_PQ_CODES = (
    _PQ_SQL_PREFIX
    + """
SELECT vec_id, string_agg(CAST(code AS VARCHAR), ' ' ORDER BY j) AS codes_str
FROM enc GROUP BY vec_id ORDER BY vec_id
"""
)


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ top-10: per-row LUT projection over the
    code table + TakeOrdered — the scan reads m bytes per vector
    instead of dim·4, which is the whole point at 100 TB."""
    from csp_gateway_spark.operators.similarity import pq_encode, pq_search, pq_train

    emb = _ts(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cb = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=0)
    codes = pq_encode(emb.filter(F.col("vec_id") != 0), cb)
    out = pq_search(codes, cb, qv, topk=10)
    return out.select("vec_id", F.round("adist", 6).alias("adist")).orderBy("vec_id")


ORACLE_PQ_SEARCH = (
    _PQ_SQL_PREFIX
    + f"""
, q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
lut AS (
  SELECT sub.j, c.code,
         list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
           i -> (q.qe[sub.j * {_PQ_DSUB} + i] - c.e[sub.j * {_PQ_DSUB} + i])
              * (q.qe[sub.j * {_PQ_DSUB} + i] - c.e[sub.j * {_PQ_DSUB} + i]))) AS d
  FROM range({_PQ_M}) sub(j), cents c, q
), scores AS (
  SELECT e.vec_id, list_sum(list(l.d ORDER BY e.j)) AS adist
  FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.code
  WHERE e.vec_id != 0
  GROUP BY e.vec_id
)
SELECT vec_id, round(adist, 6) AS adist FROM scores
ORDER BY adist, vec_id LIMIT 10
"""
)


_SPAN_K = 8


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022): merged token
    spans covered by corpus-repeated 8-grams.  The scalable stand-in
    for a suffix array: one hash-count shuffle + per-doc interval
    merge."""
    from csp_gateway_spark.operators.dedup import repeated_ngram_spans

    docs = _ts(spark, sf_dir, "documents")
    grams = _sh8(spark, sf_dir).filter(F.col("_p") >= 0).select("doc_id", "_p", "_h")
    return repeated_ngram_spans(docs, k=_SPAN_K, grams=grams).orderBy(
        "doc_id", "span_start"
    )


ORACLE_SUBSTRING_SPANS = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS toks FROM documents
), g AS (
  SELECT doc_id, i - 1 AS p,
         ('0x' || substr(md5(array_to_string(toks[i:i + {_SPAN_K} - 1], ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_K} + 1)) AS i FROM tk)
), rep AS (
  SELECT h FROM (SELECT h, COUNT(*) AS n FROM g GROUP BY h) WHERE n >= 2
), hits AS (
  SELECT g.doc_id, g.p FROM g JOIN rep USING (h)
), isl AS (
  SELECT doc_id, p,
    CASE WHEN p > COALESCE(MAX(p + {_SPAN_K}) OVER (
           PARTITION BY doc_id ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS newf
  FROM hits
), isl2 AS (
  SELECT doc_id, p,
         SUM(newf) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
)
SELECT doc_id,
       CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) + {_SPAN_K} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start
""".replace("{norm}", _SQL_NORM)


_BPE_MERGES = 8


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merge rules learned over the corpus — the
    tokenizer-training step, as a distributed iteration on the
    distinct-word table (corpus scanned once).  Oracle: the same
    rounds unrolled in SQL (argmax + greedy rewrite per round)."""
    from csp_gateway_spark.operators.corpus import bpe_train

    docs = _ts(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=_BPE_MERGES).orderBy("merge_rank")


def _oracle_bpe_train() -> str:
    from csp_gateway_spark.operators.corpus import bpe_oracle_sql

    token_cte = (
        "SELECT unnest(tk) AS token FROM "
        f"(SELECT {_SQL_TOKS.replace('trim(lower(text))', _SQL_NORM)} AS tk FROM documents)"
    )
    return bpe_oracle_sql(token_cte, n_merges=_BPE_MERGES)


_PCA_SCALE = 1 << 20


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud (2 power-iteration
    rounds).  Distributed stage = exact int64 moment sums (mapInPandas
    numpy matmul, partitioning-invariant); the d-vector iteration runs
    on the driver as ordered IEEE folds the oracle replays with
    ``list_sum(list(... ORDER BY ...))``."""
    from csp_gateway_spark.operators.similarity import embedding_pca

    emb = _ts(spark, sf_dir, "embeddings")
    out = embedding_pca(emb, iters=2, scale=_PCA_SCALE)
    return out.select(
        "idx", F.round("component", 6).alias("component")
    ).orderBy("idx")


ORACLE_EMBEDDING_PCA = f"""
WITH q AS (
  SELECT vec_id,
         unnest(generate_series(0, len(e) - 1)) AS i,
         CAST(floor(unnest(e) * {_PCA_SCALE}) AS BIGINT) AS qv
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), nn AS (SELECT COUNT(*) AS n FROM embeddings),
s1 AS (SELECT i, SUM(qv) AS si FROM q GROUP BY i),
s2 AS (
  SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS sij
  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2
),
cov AS (
  SELECT s2.i, s2.j,
         CAST(sij AS DOUBLE) - CAST(sa.si AS DOUBLE) * CAST(sb.si AS DOUBLE) / CAST(nn.n AS DOUBLE) AS c
  FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i, nn
),
dd AS (SELECT COUNT(*) AS d FROM s1),
it1 AS (
  SELECT i, list_sum(list(c * (1.0 / sqrt(CAST(dd.d AS DOUBLE))) ORDER BY j)) AS u
  FROM cov, dd GROUP BY i
),
n1 AS (SELECT sqrt(list_sum(list(u * u ORDER BY i))) AS nrm FROM it1),
v1 AS (SELECT i AS j, u / nrm AS v FROM it1, n1),
it2 AS (
  SELECT cov.i, list_sum(list(cov.c * v1.v ORDER BY cov.j)) AS u
  FROM cov JOIN v1 USING (j) GROUP BY cov.i
),
n2 AS (SELECT sqrt(list_sum(list(u * u ORDER BY i))) AS nrm FROM it2)
SELECT CAST(it2.i AS INT) AS idx, round(it2.u / n2.nrm, 6) AS component
FROM it2, n2 ORDER BY idx
"""


_VOCAB_SIZE = 200


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize→vocab→ids: the training-pipeline encode step.  Docs
    whose normalized text has no tokens drop out (both engines).

    Gate gotcha: the driver's canonicalizer cannot hash array cells, so
    the ``ids`` array is flattened to a space-joined string here (the
    operator itself still returns the typed array) — see the decimal
    rule note in oracle_sql().  Arrays must be flattened in every gated
    query."""
    from csp_gateway_spark.operators.corpus import build_vocab, encode_documents

    docs = _ts(spark, sf_dir, "documents")
    vocab = build_vocab(docs, size=_VOCAB_SIZE)
    enc = encode_documents(docs, vocab)
    return enc.select(
        "doc_id",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), " ").alias("ids_str"),
        "n_tokens",
        "n_unk",
    ).orderBy("doc_id")


ORACLE_VOCAB_ENCODE = f"""
WITH tokrows AS (
  SELECT doc_id,
         unnest(generate_series(1, len(tk))) AS pos,
         unnest(tk) AS token
  FROM (SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS tk FROM documents)
), vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS token_id
  FROM tokrows GROUP BY token
  QUALIFY token_id < {_VOCAB_SIZE + 1}
)
SELECT doc_id,
       string_agg(CAST(CAST(COALESCE(v.token_id, 0) AS INT) AS VARCHAR), ' ' ORDER BY pos) AS ids_str,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
FROM tokrows tr LEFT JOIN vocab v USING (token)
GROUP BY doc_id ORDER BY doc_id
""".replace("{norm}", _SQL_NORM)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import lm_score

    docs = _ts(spark, sf_dir, "documents")
    bc = _bigram_cells(spark, sf_dir)
    return lm_score(
        docs, lm_big=bc.select("w1", "w2", F.col("c").alias("_c12"))
    ).select(
        "doc_id", F.round("avg_logp", 6).alias("avg_logp"), F.round("ppl", 6).alias("ppl")
    ).orderBy("doc_id")


ORACLE_LM_PERPLEXITY = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS t FROM documents
), big AS (
  SELECT doc_id, j AS pos, t[j] AS w1, t[j + 1] AS w2
  FROM tk, unnest(range(1, len(t))) r(j)
), lmb AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
), lmu AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lmb GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT w) AS vs FROM (SELECT unnest(t) AS w FROM tk)
), scored AS (
  SELECT b.doc_id, b.pos,
         ln((CAST(c12 AS DOUBLE) + 0.5) / (CAST(c1 AS DOUBLE) + 0.5 * vs)) AS lp
  FROM big b JOIN lmb USING (w1, w2) JOIN lmu USING (w1), v
), pd AS (
  SELECT doc_id, list(lp ORDER BY pos) AS lps FROM scored GROUP BY 1
)
SELECT d.doc_id,
  round(list_sum(lps) / len(lps), 6) AS avg_logp,
  round(exp(-(list_sum(lps) / len(lps))), 6) AS ppl
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
ORDER BY d.doc_id
""".replace("{norm}", _SQL_NORM)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.text import char_entropy

    docs = _ts(spark, sf_dir, "documents")
    # round(6): the sorted fold makes the SUM order-identical on both
    # engines, but log2 itself may differ in the last ulp between libm
    # implementations — rounding absorbs that
    return char_entropy(docs).select(
        "doc_id", F.round("char_entropy", 6).alias("char_entropy")
    ).orderBy("doc_id")


ORACLE_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, x AS c
  FROM documents, unnest(regexp_split_to_array(text, '')) AS t(x)
  WHERE x <> ''
), cnt AS (
  SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2
), pd AS (
  SELECT doc_id, CAST(SUM(n) AS DOUBLE) AS tot,
         list(CAST(n AS DOUBLE) ORDER BY c) AS cs
  FROM cnt GROUP BY 1
)
SELECT d.doc_id,
  round(COALESCE(log2(tot) - list_sum(list_transform(cs, x -> x * log2(x))) / tot, 0.0), 6)
    AS char_entropy
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
ORDER BY d.doc_id
"""


_KM_K = 8
_KM_ITERS = 2


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means (2 rounds) with exact fixed-point means —
    the oracle unrolls the same two rounds in SQL, so even this
    iterative algorithm is hash-checked, not rows-only."""
    from csp_gateway_spark.operators.similarity import kmeans_refine, sample_centroids

    emb = _ts(spark, sf_dir, "embeddings")
    init = sample_centroids(emb, _KM_K, oracle_safe=True)
    final = kmeans_refine(emb, init, iters=_KM_ITERS)
    return (
        final.select(
            "cent_id", "n", F.posexplode("centroid").alias("pos", "val")
        )
        .select("cent_id", "pos", F.round("val", 6).alias("val"), "n")
        .orderBy("cent_id", "pos")
    )


def _oracle_kmeans_refine() -> str:
    """Two unrolled Lloyd rounds in DuckDB mirroring kmeans_refine:
    same argmax tie-break (cosine DESC, cent_id ASC), same
    floor(x·1e9) BIGINT sums, same double division."""
    assign = """
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.centroid) DESC, c.cent_id ASC
           ) AS rn
    FROM v, {C} c
  ) WHERE rn = 1
"""
    mean = """
  SELECT cell AS cent_id,
         list(val ORDER BY pos) AS centroid,
         any_value(n) AS n
  FROM (
    SELECT cell, j AS pos,
           CAST(SUM(CAST(floor(e[j] * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS val,
           COUNT(*) AS n
    FROM {A}, unnest(range(1, 65)) t(j)
    GROUP BY cell, j
  ) GROUP BY cell
"""
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0 AS (
  SELECT vec_id AS cent_id, e AS centroid FROM v
  ORDER BY ('0x' || substr(md5(vec_id || ':42'), 1, 15))::BIGINT, vec_id LIMIT {_KM_K}
),
a1 AS ({assign.format(C="c0")}),
c1 AS ({mean.format(A="a1")}),
a2 AS ({assign.format(C="c1")}),
c2 AS ({mean.format(A="a2")})
SELECT cent_id, CAST(pos - 1 AS INT) AS pos, round(centroid[pos], 6) AS val,
       CAST(n AS BIGINT) AS n
FROM c2, unnest(range(1, 65)) t(pos)
ORDER BY cent_id, pos
"""


# ---------------------------------------------------------------------------
# ANALYTICS — TPC-H classics (scan-heavy pushdown showcases; the
# driver's tables are TPC-H-ish so Q1/Q6/Q4 port directly)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one scan, partial aggregation map-side, tiny
    result — the canonical whole-stage-codegen pipeline."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("sum_qty"),
            F.sum(dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")
            ).alias("sum_disc_price"),
            F.avg(dec("l_quantity")).cast("decimal(18,6)").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS sum_disc_price,
  CAST(AVG(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate must reach the
    parquet scan (PushedFilters), no shuffle until the final fold."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(18,2)")).cast("decimal(18,4)")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_FORECAST_REVENUE = """
SELECT SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then count by priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45
) GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# CORPUS — complete near-dedup pipeline (pairs → components → keep reps)
# ---------------------------------------------------------------------------

def q_near_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.corpus import dedup_keep_representatives

    docs = _ts(spark, sf_dir, "documents")
    # deterministic chain pairs (as in dedup_components): every decade of
    # doc ids < 50 is one duplicate cluster; survivors = decade heads +
    # all untouched docs — a closed-form oracle for the REAL pipeline
    ids = docs.select("doc_id").filter(F.col("doc_id") < 50)
    pairs = ids.filter(F.col("doc_id") % 10 != 9).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return dedup_keep_representatives(docs, pairs).select("doc_id").orderBy("doc_id")


ORACLE_NEAR_DEDUP_PIPELINE = """
SELECT doc_id FROM documents WHERE doc_id >= 50 OR doc_id % 10 = 0 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# STATE — multi-column keyby (reference keyby tuples, `state.py:165-225`)
# ---------------------------------------------------------------------------

def q_state_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.state import keyed_last

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    out = keyed_last(ev, ["user_id", "event_type"], order_by=["ts", "event_id"])
    return out.select(
        "user_id", "event_type", "event_id", F.col("value").cast("decimal(18,2)").alias("value")
    )


ORACLE_STATE_MULTIKEY = """
SELECT user_id, event_type, event_id, CAST(value AS DECIMAL(18,2)) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id < 30
) WHERE rn = 1
ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# FUNCTIONS — JSON extraction from string props (F1/F2 scalar surface)
# ---------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .filter(F.col("k") >= 95)
        .orderBy("event_id")
    )


ORACLE_JSON_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 95
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# FUNCTIONS — array/lambda surface over embedding vectors (F.aggregate /
# transform / zip-free norms; DuckDB list_* equivalents)
# ---------------------------------------------------------------------------

def q_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _ts(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max(v), 6).alias("vmax"),
        F.round(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6).alias("vsum"),
        F.round(l2, 6).alias("l2"),
    )


ORACLE_ARRAY_STATS = """
SELECT vec_id,
  len(embedding) AS dim,
  round(list_max(CAST(embedding AS DOUBLE[])), 6) AS vmax,
  round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS vsum,
  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2
FROM embeddings WHERE vec_id < 200
"""


# ---------------------------------------------------------------------------
# SKETCHES — approximate distinct.  The gate query uses the PORTABLE
# HLL (operators/sketches.py): md5-derived registers + integer-exact
# estimate arithmetic reproduce bit-identically in DuckDB, so this is
# fully oracle-checked (the Spark-native HLL++ `approx_count_distinct`
# stays available as the engine-specific fast path).
# ---------------------------------------------------------------------------

def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return (
        hll_distinct(ev, ["event_type"], "user_id")
        .withColumnRenamed("approx_distinct", "approx_users")
        .orderBy("event_type")
    )


def _oracle_approx_distinct() -> str:
    from csp_gateway_spark.operators.sketches import hll_distinct_oracle_sql

    sql = hll_distinct_oracle_sql("events", "event_type", "user_id")
    return sql.replace("AS approx_distinct", "AS approx_users")


# ---------------------------------------------------------------------------
# Count-Min sketch (operators/sketches.py): md5-addressed counters, so
# the DuckDB oracle computes bit-identical estimates — including the
# deterministic overestimates where buckets collide.
# ---------------------------------------------------------------------------

def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream via a 4×1024
    Count-Min sketch: the sketch state is KB-sized regardless of corpus
    scale, and every estimate (collisions included) reproduces exactly
    in the oracle because the hash family is portable md5."""
    from csp_gateway_spark.operators.corpus import token_rows
    from csp_gateway_spark.operators.sketches import cms_topk

    docs = _ts(spark, sf_dir, "documents")
    rows = token_rows(docs).select("token")
    return cms_topk(rows, "token", k=25).select(
        "token", F.col("cms_count").cast("long").alias("cms_count")
    )


def _oracle_cms_topk() -> str:
    from csp_gateway_spark.operators.sketches import cms_oracle_sql

    rows_cte = (
        "SELECT unnest(tk) AS token FROM "
        f"(SELECT {_SQL_TOKS.replace('trim(lower(text))', _SQL_NORM)} AS tk FROM documents)"
    )
    return cms_oracle_sql(rows_cte, "token", k=25)


# ---------------------------------------------------------------------------
# ANALYTICS — join-heavy TPC-H shapes (operators/analytics.py; broadcast
# dims + decimal aggregation, see module docstring there)
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import shipping_priority

    return shipping_priority(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate,
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import local_supplier_volume

    return local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name ASC
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import volume_shipping

    return volume_shipping(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


ORACLE_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import returned_item_revenue

    return returned_item_revenue(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


ORACLE_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import promo_revenue_effect

    return promo_revenue_effect(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


ORACLE_PROMO_REVENUE = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_revenue,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
)
SELECT promo_revenue, total_revenue,
  CAST(promo_revenue AS DOUBLE) * 100.0 / CAST(total_revenue AS DOUBLE) AS promo_pct
FROM agg
"""


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import large_volume_orders

    return large_volume_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


ORACLE_LARGE_VOLUME_ORDERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
  CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


def q_brand_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import brand_discount_revenue

    return brand_discount_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


ORACLE_BRAND_DISCOUNT_REVENUE = """
SELECT
  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS revenue,
  COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 5 AND 25)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 10 AND 40)
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import market_share

    return market_share(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


ORACLE_MARKET_SHARE = """
WITH vol AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume,
    sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
)
SELECT o_year,
  SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS nation_volume,
  SUM(volume) AS total_volume,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM vol GROUP BY o_year ORDER BY o_year
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import product_type_profit

    return product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
    )


ORACLE_PRODUCT_TYPE_PROFIT = """
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  SUM(CAST(
    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
    - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))
  AS DECIMAL(18,4))) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY nation ASC, o_year DESC
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import customer_order_distribution

    return customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


ORACLE_CUSTOMER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders ON c.c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import top_supplier

    return top_supplier(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"))


ORACLE_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import small_quantity_revenue

    return small_quantity_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


ORACLE_SMALL_QUANTITY_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE l2.l_partkey = lineitem.l_partkey AND p2.p_brand = 'Brand#23'
  )
"""


def q_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import sole_returned_supplier

    return sole_returned_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "orders")
    )


ORACLE_SOLE_RETURNED_SUPPLIER = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp,
    MIN(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS ret_suppkey
  FROM li GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON ret_suppkey = s_suppkey
WHERE n_supp > 1 AND n_ret_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC LIMIT 100
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import min_cost_supplier

    return min_cost_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH parts AS (
  SELECT p_partkey, p_name FROM part WHERE p_size = 15 AND p_type = 'ECONOMY'
), rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), offers AS (
  SELECT p.p_partkey, p.p_name, r.s_suppkey, r.s_name, r.s_acctbal, r.n_name,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_cost
  FROM lineitem l
  JOIN parts p ON l.l_partkey = p.p_partkey
  JOIN rs r ON l.l_suppkey = r.s_suppkey
  GROUP BY ALL
), best AS (
  SELECT p_partkey, MIN(min_cost) AS best_cost FROM offers GROUP BY 1
)
SELECT o.s_acctbal, o.s_name, o.n_name, o.p_partkey, o.p_name,
       CAST(o.min_cost AS DOUBLE) AS min_cost
FROM offers o JOIN best b ON o.p_partkey = b.p_partkey AND o.min_cost = b.best_cost
ORDER BY o.s_acctbal DESC, o.n_name ASC, o.s_name ASC, o.p_partkey ASC
LIMIT 100
"""


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import important_parts

    return important_parts(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


ORACLE_IMPORTANT_PARTS = """
WITH ns AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
), pp AS (
  SELECT l_partkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS part_value
  FROM lineitem JOIN ns ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value FROM pp
WHERE CAST(part_value AS DOUBLE) > (SELECT CAST(SUM(part_value) AS DOUBLE) * 0.001 FROM pp)
ORDER BY part_value DESC, l_partkey ASC
"""


def q_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import linestatus_priority

    return linestatus_priority(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"))


ORACLE_LINESTATUS_PRIORITY = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
    AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import parts_supplier_counts

    return parts_supplier_counts(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


ORACLE_PARTS_SUPPLIER_COUNTS = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#11' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import promotion_candidates

    return promotion_candidates(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"),
    )


ORACLE_PROMOTION_CANDIDATES = """
WITH ps AS (
  SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
  GROUP BY 1
), thr AS (
  SELECT CAST(SUM(qty) AS DOUBLE) / COUNT(*) * 0.5 AS threshold FROM ps
), ns AS (
  SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
)
SELECT s_name, CAST(qty AS DOUBLE) AS qty
FROM ps JOIN ns ON l_suppkey = s_suppkey, thr
WHERE CAST(qty AS DOUBLE) > thr.threshold
ORDER BY s_name
"""


def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.analytics import global_sales_opportunity

    return global_sales_opportunity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


ORACLE_GLOBAL_SALES_OPPORTUNITY = """
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
  WHERE c_nationkey IN (1, 2, 3, 4, 5)
)
SELECT c_nationkey, COUNT(*) AS numcust,
  SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS totacctbal
FROM cust
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM cust WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = cust.c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media column plumbing (operators/multimodal.py):
    text bytes stand in for image/audio payloads (the container ships
    no codecs — decode itself is the stubbed mapInPandas stage, pytest-
    covered); byte-length + sha256 metadata and the size-bucket rollup
    are all JVM-native over the binary column."""
    from csp_gateway_spark.operators.multimodal import with_content_meta

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    meta = with_content_meta(docs, digest="sha256")
    return (
        # floor, not cast: DuckDB CAST(double AS INT) rounds half-to-even,
        # Spark truncates — floor agrees everywhere
        meta.groupBy(F.floor(F.col("n_bytes") / 256).cast("int").alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("sha256").alias("min_digest"),
        )
        .orderBy("size_bucket")
    )


ORACLE_MULTIMODAL_META = """
WITH meta AS (
  SELECT doc_id,
    OCTET_LENGTH(ENCODE(text)) AS n_bytes,
    SHA256(text) AS sha256
  FROM documents
)
SELECT CAST(FLOOR(n_bytes / 256.0) AS INTEGER) AS size_bucket,
  COUNT(*) AS n_docs,
  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
  MIN(sha256) AS min_digest
FROM meta GROUP BY size_bucket ORDER BY size_bucket
"""


# ---------------------------------------------------------------------------
# SIMILARITY — int8 embedding quantization (similarity.py: the 100 TB
# storage path, 4× smaller than float32; exploded to rows so the oracle
# compares every quantized component)
# ---------------------------------------------------------------------------

def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.similarity import quantize_embeddings

    emb = _ts(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", "scale", F.posexplode("qvec").alias("idx", "q")
    ).orderBy("vec_id", "idx")


ORACLE_EMBEDDING_QUANTIZE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 50
), s AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v
)
SELECT vec_id, scale,
       unnest(generate_series(0, len(e) - 1)) AS idx,
       unnest(list_transform(e, x ->
         CAST(CASE WHEN scale = 0 THEN 0 ELSE FLOOR(x / scale + 0.5) END AS INTEGER))) AS q
FROM s ORDER BY vec_id, idx
"""


# ---------------------------------------------------------------------------
# CURATION — decontamination / deterministic stratified sampling /
# cross-doc line dedup (operators/curation.py, SURVEY §7.8 additive)
# ---------------------------------------------------------------------------

_DECON_K = 5


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing any 5-token shingle with the held-out set
    (doc_id % 20 == 0) get flagged.  Shingles hash to 60-bit longs
    before the semi-join so the shuffle moves fixed-width keys."""
    from csp_gateway_spark.operators.curation import decontaminate

    docs = _ts(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    sh = _sh5(spark, sf_dir)
    out = decontaminate(
        corpus, eval_set, k=_DECON_K,
        c_sh=sh.filter(F.col("doc_id") % 20 != 0),
        e_sh=sh.filter(F.col("doc_id") % 20 == 0),
    )
    return out.select("doc_id", "contaminated").orderBy("doc_id")


ORACLE_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles(_DECON_K)} AS s FROM documents
), ev AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0
), corp AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 != 0
), cont AS (
  SELECT DISTINCT doc_id FROM corp WHERE g IN (SELECT g FROM ev)
)
SELECT d.doc_id, (cont.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id
WHERE d.doc_id % 20 != 0 ORDER BY d.doc_id
"""


_BLOOM_M = 1 << 16
_BLOOM_KH = 4


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contamination semantics as ``decontaminate`` but through a
    broadcast Bloom filter — the 100 TB path: the eval side collapses
    to ≤ 2^16 set-bit rows instead of a shingle semi-join, at the cost
    of deterministic (oracle-reproduced) false positives."""
    from csp_gateway_spark.operators.curation import bloom_decontaminate

    docs = _ts(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    sh = _sh5(spark, sf_dir)
    out = bloom_decontaminate(
        corpus, eval_set, k=_DECON_K, m_bits=_BLOOM_M, k_hashes=_BLOOM_KH,
        c_sh=sh.filter(F.col("doc_id") % 20 != 0),
        e_sh=sh.filter(F.col("doc_id") % 20 == 0),
    )
    return out.select("doc_id", "contaminated").orderBy("doc_id")


ORACLE_BLOOM_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles(_DECON_K)} AS s FROM documents
), evh AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0)
), bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(h AS VARCHAR) || ':bf' || r.i), 1, 15))::BIGINT % {_BLOOM_M} AS bit
  FROM evh, (SELECT unnest(range({_BLOOM_KH})) AS i) r
), corp AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 != 0)
), probe AS (
  SELECT doc_id, h,
    ('0x' || substr(md5(CAST(h AS VARCHAR) || ':bf' || r.i), 1, 15))::BIGINT % {_BLOOM_M} AS bit
  FROM corp, (SELECT unnest(range({_BLOOM_KH})) AS i) r
), hits AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, h FROM probe JOIN bits USING (bit)
    GROUP BY doc_id, h HAVING COUNT(*) = {_BLOOM_KH}
  )
)
SELECT d.doc_id, (hits.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % 20 != 0 ORDER BY d.doc_id
"""


_SAMPLE_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1
_SAMPLE_SEED = 17


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.curation import stratified_sample

    docs = _ts(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, _SAMPLE_FRACTIONS, strata_col="source", seed=_SAMPLE_SEED,
        default_fraction=_SAMPLE_DEFAULT,
    )
    return out.select("doc_id", "source", "lang").orderBy("doc_id")


_SAMPLE_CASE = " ".join(
    f"WHEN '{name}' THEN {frac}" for name, frac in sorted(_SAMPLE_FRACTIONS.items())
)

ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5(doc_id || ':{_SAMPLE_SEED}'), 1, 15))::BIGINT
      < CAST(FLOOR((CASE source {_SAMPLE_CASE} ELSE {_SAMPLE_DEFAULT} END) * {1 << 60}) AS BIGINT)
ORDER BY doc_id
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup over synthesized multi-line docs (the
    corpus text is single-line, so ' value ' is deterministically
    rewritten to a newline on both engines first)."""
    from csp_gateway_spark.operators.curation import dedup_lines

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" value "), F.lit("\n")).alias("text")
    )
    out = dedup_lines(docs)
    return out.select("doc_id", "text").orderBy("doc_id")


ORACLE_LINE_DEDUP = """
WITH d AS (
  SELECT doc_id, string_split(replace(text, ' value ', chr(10)), chr(10)) AS lines
  FROM documents
), r AS (
  SELECT doc_id,
         unnest(generate_series(1, len(lines))) AS line_no,
         trim(unnest(lines)) AS line
  FROM d
), nz AS (
  SELECT doc_id, line_no, line FROM r WHERE line != ''
), ranked AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
  FROM nz
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
FROM ranked WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# TRAINING-PIPELINE CURATION — deterministic split, sequence packing,
# repetition quality (operators/curation.py)
# ---------------------------------------------------------------------------

_SPLIT_SEED = 23
_PACK_SEED = 29
_PACK_SHARDS = 16
_PACK_BUDGET = 2048


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.curation import train_split

    docs = _ts(spark, sf_dir, "documents")
    out = train_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=_SPLIT_SEED)
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


def _split_thresholds() -> tuple:
    import math

    # alphabetical split order (test, train, val): cumulative weights
    t_test = math.floor(0.05 * float(1 << 60))
    t_train = math.floor((0.05 + 0.9) * float(1 << 60))
    return t_test, t_train


ORACLE_TRAIN_SPLIT = f"""
WITH s AS (
  SELECT CASE
    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_SPLIT_SEED}'), 1, 15))::BIGINT
         < {_split_thresholds()[0]} THEN 'test'
    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_SPLIT_SEED}'), 1, 15))::BIGINT
         < {_split_thresholds()[1]} THEN 'train'
    ELSE 'val' END AS split
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s GROUP BY split ORDER BY split
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.curation import pack_sequences, pack_stats

    docs = _ts(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, budget_tokens=_PACK_BUDGET, shards=_PACK_SHARDS, seed=_PACK_SEED
    )
    return pack_stats(packed).orderBy("shard", "bin")


ORACLE_SEQUENCE_PACK = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT)
           AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_PACK_SEED}'), 1, 15))::BIGINT
           % {_PACK_SHARDS} AS shard
  FROM documents
), s AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS strt
  FROM t
)
SELECT shard, CAST(strt // {_PACK_BUDGET} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
FROM s GROUP BY 1, 2 ORDER BY shard, bin
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.curation import repetition_stats

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" value "), F.lit("\n")).alias("text")
    )
    return repetition_stats(docs).orderBy("doc_id")


ORACLE_REPETITION_STATS = r"""
WITH d AS (
  SELECT doc_id, replace(text, ' value ', chr(10)) AS text FROM documents
), l AS (
  SELECT doc_id, trim(x) AS line
  FROM d, unnest(string_split(text, chr(10))) AS t(x)
  WHERE trim(x) <> ''
), lf AS (
  SELECT doc_id,
         1.0 - CAST(COUNT(DISTINCT line) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS dup_line_frac
  FROM l GROUP BY 1
), tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM d
), g AS (
  SELECT doc_id, toks[j] || ' ' || toks[j + 1] AS gram
  FROM tk, unnest(range(1, len(toks))) AS r(j)
), pg AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
), gf AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac
  FROM pg GROUP BY 1
)
SELECT dd.doc_id, COALESCE(lf.dup_line_frac, 0.0) AS dup_line_frac,
       COALESCE(gf.top_bigram_frac, 0.0) AS top_bigram_frac
FROM d dd LEFT JOIN lf ON dd.doc_id = lf.doc_id LEFT JOIN gf ON dd.doc_id = gf.doc_id
ORDER BY dd.doc_id
"""


# ---------------------------------------------------------------------------
# MULTIMODAL — real PNG header parse over binary content (multimodal.py
# png_meta: JVM substring+conv, no codec).  Content is constructed
# deterministically from documents on BOTH engines; the oracle knows the
# ground-truth dimensions it encoded, so a hash match proves the Spark
# parser reads the bytes correctly.
# ---------------------------------------------------------------------------

def q_multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.multimodal import png_meta

    docs = _ts(spark, sf_dir, "documents")
    w = (F.length("text") % 1024 + 1).cast("long")
    h = (F.col("doc_id") % 512 + 1).cast("long")

    def be4(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),  # signature + IHDR hdr
        be4(w),
        be4(h),
        F.unhex(F.lit("0806000000")),  # bit depth 8, color type 6 (RGBA)
    )
    content = F.when(F.col("doc_id") % 7 == 0, F.encode(F.lit("not-an-image"), "UTF-8")).otherwise(png)
    out = png_meta(docs.select("doc_id", content.alias("content")))
    return out.select(
        "doc_id", "is_png", "png_width", "png_height", "png_bit_depth", "png_color_type"
    ).orderBy("doc_id")


ORACLE_MULTIMODAL_IMAGE_META = """
SELECT doc_id,
  doc_id % 7 <> 0 AS is_png,
  CASE WHEN doc_id % 7 <> 0 THEN length(text) % 1024 + 1 END AS png_width,
  CASE WHEN doc_id % 7 <> 0 THEN doc_id % 512 + 1 END AS png_height,
  CASE WHEN doc_id % 7 <> 0 THEN 8 END AS png_bit_depth,
  CASE WHEN doc_id % 7 <> 0 THEN 6 END AS png_color_type
FROM documents ORDER BY doc_id
"""


def q_multimodal_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG marker-walk metadata (multimodal.py jpeg_meta): bytes
    constructed deterministically from documents, the oracle knows the
    encoded ground truth — a hash match proves the mapInPandas parser
    reads the marker stream correctly (incl. corrupt-input NULLs)."""
    from csp_gateway_spark.operators.multimodal import jpeg_meta

    docs = _ts(spark, sf_dir, "documents")
    w = (F.length("text") % 2048 + 1).cast("long")
    h = (F.col("doc_id") % 1024 + 1).cast("long")

    def be2(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    jpeg = F.concat(
        F.unhex(F.lit("FFD8")),                # SOI
        F.unhex(F.lit("FFC0")),                # SOF0 (baseline)
        F.unhex(F.lit("0011")),                # segment length 17
        F.unhex(F.lit("08")),                  # precision
        be2(h),
        be2(w),
        F.unhex(F.lit("03")),                  # 3 components
        F.unhex(F.lit("000000000000000000")),  # component specs (padding)
        F.unhex(F.lit("FFD9")),                # EOI
    )
    content = F.when(
        F.col("doc_id") % 7 == 0, F.encode(F.lit("not-a-jpeg"), "UTF-8")
    ).otherwise(jpeg)
    out = jpeg_meta(
        docs.select(F.col("doc_id").alias("media_id"), content.alias("content")),
        id_col="media_id",
    )
    # nullable BOOLEAN renders as None on Spark but NaN from DuckDB's
    # fetchdf — carry the flag as a nullable INT instead
    return (
        out.withColumnRenamed("media_id", "doc_id")
        .withColumn("progressive", F.col("progressive").cast("int"))
        .orderBy("doc_id")
    )


ORACLE_MULTIMODAL_JPEG_META = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 7 <> 0 THEN length(text) % 2048 + 1 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 7 <> 0 THEN doc_id % 1024 + 1 END AS INT) AS height,
  CAST(CASE WHEN doc_id % 7 <> 0 THEN 3 END AS INT) AS components,
  CAST(CASE WHEN doc_id % 7 <> 0 THEN 0 END AS INT) AS progressive
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# HYPERTABLE — multi-resolution rollup cascade (operators/rollup.py); the
# 3600 s level is derived from the 60 s level, never from raw events, and
# the oracle replicates that cascade
# ---------------------------------------------------------------------------

def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csp_gateway_spark.operators.rollup import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    levels = hypertable_rollup(ev, widths_sec=(60, 3600))
    return levels[3600].orderBy("bucket_start", "event_type")


ORACLE_HYPERTABLE_ROLLUP = """
WITH f AS (
  SELECT (epoch_ns(ts) // 60000000000) * 60 AS bucket_start, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sum_value,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM events GROUP BY 1, 2
)
SELECT bucket_start - bucket_start % 3600 AS bucket_start, event_type,
       CAST(SUM(n) AS BIGINT) AS n, SUM(sum_value) AS sum_value,
       MIN(min_value) AS min_value, MAX(max_value) AS max_value
FROM f GROUP BY 1, 2 ORDER BY bucket_start, event_type
"""


# ---------------------------------------------------------------------------
# driver hooks
# ---------------------------------------------------------------------------

def q_window_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `window_tumbling` on the oracle gate: a REAL
    streaming windowed aggregation — readStream over a 6-file split
    (maxFilesPerTrigger=1 -> 6 micro-batches), event-time
    `F.window(1 hour)` groupBy with an incremental state store,
    outputMode(complete), each batch's table replacing the landing —
    whose final table must hash-equal the batch tumbling SQL."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def build(stream):
        return (
            stream.withColumn("_ets", F.expr("timestamp_micros(ts div 1000)"))
            .groupBy(F.window("_ets", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            )
        )

    def finish(t):
        return t.select(
            F.col("window.start").cast("long").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        ).orderBy("bucket_start", "event_type")

    return _stream_replay(
        spark, "wstream", ev, _hash_split(ev, 6), build, finish, mode="complete"
    ).orderBy("bucket_start", "event_type")


ORACLE_WINDOW_STREAM_REPLAY = """
SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start, event_type,
       COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_dedup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stateful dedup on the oracle gate: documents replay
    through `dropDuplicates` on (source, md5(text)) — the streaming
    state-store dedup — with each batch's first-seen rows landed in
    the batch's own directory; per-source unique counts over the landed
    rows must equal the batch COUNT(DISTINCT) oracle."""
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text", "source")

    def build(stream):
        return stream.select(
            "source", F.md5(F.col("text")).alias("_h")
        ).dropDuplicates(["source", "_h"])

    def finish(t):
        return (
            t.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_unique"))
            .orderBy("source")
        )

    return _stream_replay(
        spark, "dstream", docs, _hash_split(docs, 4, "doc_id"), build, finish
    ).orderBy("source")


ORACLE_DEDUP_STREAM_REPLAY = """
SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_session_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `window_session` on the oracle gate: a REAL
    streaming SESSION-window aggregation — readStream over a 6-file
    split (maxFilesPerTrigger=1 -> 6 micro-batches), per-user
    `F.session_window(30 min)` with the state store MERGING sessions
    as late micro-batches bridge gaps, outputMode(complete), each
    batch's table replacing the landing — whose final table must
    hash-equal the batch gaps-and-islands SQL."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")

    def build(stream):
        return (
            stream.withColumn("_ets", F.expr("timestamp_micros(ts div 1000)"))
            .groupBy(F.session_window("_ets", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            )
        )

    def finish(t):
        return t.select(
            F.col("session_window.start").cast("long").alias("session_start"),
            F.col("session_window.end").cast("long").alias("session_end"),
            "user_id",
            "n",
            "sum_value",
        ).orderBy("user_id", "session_start")

    return _stream_replay(
        spark, "sstream", ev, _hash_split(ev, 6), build, finish, mode="complete"
    ).orderBy("user_id", "session_start")


ORACLE_SESSION_STREAM_REPLAY = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
), s AS (
  SELECT user_id, us, value,
    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM e
), sess AS (
  SELECT user_id, us, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s
)
SELECT CAST(MIN(us) // 1000000 AS BIGINT) AS session_start,
       CAST((MAX(us) + 1800000000) // 1000000 AS BIGINT) AS session_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n,
       SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# WAVE 12 (round 6) — feature association, growth/streak/interval analytics,
# OLS trends, equi-depth profiling, containment dedup
# ---------------------------------------------------------------------------


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information lang x source over documents — bounded cell
    table, all three double sums folded in key order (engine-exact)."""
    from csp_gateway_spark.operators.analytics import mutual_information

    docs = _ts(spark, sf_dir, "documents")
    out = mutual_information(docs, "lang", "source")
    return out.select(
        "n",
        (F.round("mi", 6) + F.lit(0.0)).alias("mi"),
        (F.round("h_a", 6) + F.lit(0.0)).alias("h_a"),
        (F.round("h_b", 6) + F.lit(0.0)).alias("h_b"),
        (F.round("nmi", 6) + F.lit(0.0)).alias("nmi"),
    )


ORACLE_MUTUAL_INFORMATION = """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), r AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
c AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
mi AS (
  SELECT list_sum(list(
    (CAST(o AS DOUBLE) / CAST(nn AS DOUBLE))
    * ln(CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
         / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
    ORDER BY a, b)) AS mi
  FROM cells JOIN r USING (a) JOIN c USING (b), t
), ha AS (
  SELECT list_sum(list(
    -(CAST(ra AS DOUBLE) / CAST(nn AS DOUBLE))
    * ln(CAST(ra AS DOUBLE) / CAST(nn AS DOUBLE)) ORDER BY a)) AS h_a
  FROM r, t
), hb AS (
  SELECT list_sum(list(
    -(CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))
    * ln(CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE)) ORDER BY b)) AS h_b
  FROM c, t
)
SELECT t.nn AS n, round(mi.mi, 6) + 0.0 AS mi,
  round(ha.h_a, 6) + 0.0 AS h_a, round(hb.h_b, 6) + 0.0 AS h_b,
  round(CASE WHEN ha.h_a * hb.h_b > 0
        THEN mi.mi / sqrt(ha.h_a * hb.h_b) ELSE 0.0 END, 6) + 0.0 AS nmi
FROM t, mi, ha, hb
"""


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user as a
    (streak_days, n_users) distribution — gaps-and-islands, pure
    integer logic."""
    from csp_gateway_spark.operators.analytics import user_streaks

    ev = _t(spark, sf_dir, "events")
    return user_streaks(ev)


ORACLE_USER_STREAKS = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
), i AS (
  SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
  FROM d
), s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len FROM i GROUP BY user_id, isl
), m AS (SELECT user_id, max(len) AS streak_days FROM s GROUP BY 1)
SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users
FROM m GROUP BY 1 ORDER BY 1
"""


def q_first_seen_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user growth per day — first-seen min per
    user + two-phase exact running total (no unpartitioned window)."""
    from csp_gateway_spark.operators.analytics import first_seen_growth

    ev = _t(spark, sf_dir, "events")
    return first_seen_growth(ev)


ORACLE_FIRST_SEEN_GROWTH = """
WITH f AS (
  SELECT user_id, min(epoch_ns(ts) // 86400000000000) AS day
  FROM events GROUP BY 1
), d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
SELECT day AS day_num, new_users,
  CAST(SUM(new_users) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM d ORDER BY 1
"""


def q_active_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-open-orders timeline via +/-1 delta events and an
    exact two-phase running sum — interval overlap counting without an
    interval self-join."""
    from csp_gateway_spark.operators.analytics import active_orders

    return active_orders(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


ORACLE_ACTIVE_ORDERS = """
WITH cl AS (
  SELECT l_orderkey AS k, max(CAST(l_shipdate AS DATE)) AS close_d
  FROM lineitem GROUP BY 1
), o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS open_d FROM orders),
j AS (SELECT open_d, close_d FROM o JOIN cl USING (k)),
dl AS (
  SELECT datediff('day', DATE '1970-01-01', open_d) AS day, 1 AS delta FROM j
  UNION ALL
  SELECT datediff('day', DATE '1970-01-01', close_d) + 1 AS day, -1 AS delta FROM j
), d AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS dl FROM dl GROUP BY 1)
SELECT day AS day_num,
  CAST(SUM(dl) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
FROM d ORDER BY 1
"""


def q_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly-revenue OLS trend — exact decimal/integer
    sums, closed-form slope/intercept as single double expressions."""
    from csp_gateway_spark.operators.analytics import group_ols_trend

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    x = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    out = group_ols_trend(j, "c_nationkey", x, "o_totalprice")
    return out.select(
        F.col("grp").cast("long").alias("grp"),
        "n_points",
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    ).orderBy("grp")


ORACLE_GROUP_OLS_TREND = """
WITH pts AS (
  SELECT c_nationkey AS g,
    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2
), s AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    SUM(y) AS sy,
    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * y AS DECIMAL(38,2))) AS sxy
  FROM pts GROUP BY 1
)
SELECT CAST(g AS BIGINT) AS grp, n AS n_points,
  round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) + 0.0 AS slope,
  round((CAST(sy AS DOUBLE)
         - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE), 6) + 0.0 AS intercept
FROM s ORDER BY 1
"""


def q_ntile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10-tile equi-depth histogram of l_extendedprice — ANSI
    ntile reproduced by the two-phase rank (no unpartitioned
    window)."""
    from csp_gateway_spark.operators.analytics import ntile_histogram

    li = _t(spark, sf_dir, "lineitem")
    out = ntile_histogram(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"], buckets=10
    )
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n",
        (F.round("lo", 6) + F.lit(0.0)).alias("lo"),
        (F.round("hi", 6) + F.lit(0.0)).alias("hi"),
    )


ORACLE_NTILE_HISTOGRAM = """
WITH t AS (
  SELECT l_extendedprice AS v,
    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
  round(CAST(min(v) AS DOUBLE), 6) + 0.0 AS lo,
  round(CAST(max(v) AS DOUBLE), 6) + 0.0 AS hi
FROM t GROUP BY 1 ORDER BY 1
"""


_CONT_K = 12
_CONT_THRESHOLD = 0.5


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (quote/subset detector) —
    shingle-hash blocked, sizes joined on the doc key."""
    from csp_gateway_spark.operators.dedup import containment_pairs

    docs = _ts(spark, sf_dir, "documents")
    out = containment_pairs(
        docs, k=_CONT_K, threshold=_CONT_THRESHOLD,
        sh=_sh12(spark, sf_dir),
    )
    return out.select(
        "id_a",
        "id_b",
        "shared",
        (F.round("c_ab", 6) + F.lit(0.0)).alias("c_ab"),
        (F.round("c_ba", 6) + F.lit(0.0)).alias("c_ba"),
    ).orderBy("id_a", "id_b")


def _oracle_containment_pairs() -> str:
    # sz (the containment denominators) stays PRE-cap — matching the
    # Spark operator, where only the pair numerator drops boilerplate
    # buckets (df > cap) and scores stay conservative
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_sql_shingles(_CONT_K)}) AS s FROM documents)
), sz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
shc AS (
  SELECT id, h FROM (
    SELECT id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM sh
  ) WHERE df <= {_SNP_DF_CAP}
),
p AS (
  SELECT a.id AS ia, b.id AS ib, CAST(count(*) AS BIGINT) AS shared
  FROM shc a JOIN shc b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b, shared,
  round(CAST(shared AS DOUBLE) / CAST(x.sz AS DOUBLE), 6) + 0.0 AS c_ab,
  round(CAST(shared AS DOUBLE) / CAST(y.sz AS DOUBLE), 6) + 0.0 AS c_ba
FROM p JOIN sz x ON p.ia = x.id JOIN sz y ON p.ib = y.id
WHERE greatest(CAST(shared AS DOUBLE) / CAST(x.sz AS DOUBLE),
               CAST(shared AS DOUBLE) / CAST(y.sz AS DOUBLE)) >= {_CONT_THRESHOLD}
ORDER BY 1, 2
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth at 4 doc-id checkpoints — min-first-
    doc per token makes cumulative-distinct a plain count."""
    from csp_gateway_spark.operators.corpus import vocab_growth

    return vocab_growth(_ts(spark, sf_dir, "documents"), checkpoints=4)


ORACLE_VOCAB_GROWTH = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
cp AS (SELECT CAST(i AS BIGINT) AS checkpoint, CAST((m * i) // 4 AS BIGINT) AS cutoff
       FROM (SELECT unnest(range(1, 5)) AS i), mx),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)}) AS token
  FROM documents
), first AS (SELECT token, min(doc_id) AS f FROM tok GROUP BY 1),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY 1),
v AS (
  SELECT checkpoint, cutoff, CAST(count(*) AS BIGINT) AS vocab
  FROM first, cp WHERE f <= cutoff GROUP BY 1, 2
), d AS (
  SELECT checkpoint, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM pd, cp WHERE doc_id <= cutoff GROUP BY 1
)
SELECT v.checkpoint, cutoff, n_docs, n_tokens, vocab
FROM v JOIN d USING (checkpoint) ORDER BY 1
"""


_PREFIX_K = 8


def q_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate screen: groups of docs sharing an identical
    first-8-token normalized prefix."""
    from csp_gateway_spark.operators.dedup import prefix_dup_groups

    out = prefix_dup_groups(_ts(spark, sf_dir, "documents"), k=_PREFIX_K)
    return out.select("prefix", "n_docs", "min_doc").orderBy("prefix")


ORACLE_PREFIX_DUP_GROUPS = f"""
WITH p AS (
  SELECT doc_id,
    array_to_string(({_SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)})[1:{_PREFIX_K}], ' ') AS prefix
  FROM documents
)
SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc
FROM p GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
"""


_BP_K = 2
_BP_THRESHOLD = 0.15


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate 2-grams (present in >= 15% of a source's
    docs) — the template-noise screen before training."""
    from csp_gateway_spark.operators.curation import boilerplate_ngrams

    out = boilerplate_ngrams(
        _ts(spark, sf_dir, "documents"), k=_BP_K, threshold=_BP_THRESHOLD
    )
    return out.select(
        "source",
        "ngram",
        "n_docs",
        (F.round("share", 6) + F.lit(0.0)).alias("share"),
    ).orderBy("source", "ngram")


def _oracle_boilerplate_ngrams() -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT source, doc_id, unnest({_sql_shingles(_BP_K)}) AS g
  FROM documents
), nd AS (SELECT source, CAST(count(*) AS BIGINT) AS ndocs FROM documents GROUP BY 1),
c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS n_docs FROM sh GROUP BY 1, 2)
SELECT c.source, g AS ngram, n_docs,
  round(CAST(n_docs AS DOUBLE) / CAST(ndocs AS DOUBLE), 6) + 0.0 AS share
FROM c JOIN nd ON c.source = nd.source
WHERE CAST(n_docs AS DOUBLE) / CAST(ndocs AS DOUBLE) >= {_BP_THRESHOLD}
  AND n_docs >= 2
ORDER BY 1, 2
"""


def _stable(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Cast the final projection's decimal columns to double.

    DuckDB's ``fetchdf`` renders DECIMAL results as float64 while Spark's
    ``toPandas`` yields ``decimal.Decimal`` objects, so a stringified value
    hash disagrees exactly when a value has trailing zeros ('253942.00' vs
    '253942.0').  Aggregations stay decimal internally (exact, independent of
    summation order); only the final output is widened to double, which is
    the bit-identical correctly-rounded value on both engines.
    """
    from pyspark.sql.types import DecimalType

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        if any(isinstance(f.dataType, DecimalType) for f in df.schema.fields):
            df = df.select(
                *[
                    F.col(f.name).cast("double").alias(f.name)
                    if isinstance(f.dataType, DecimalType)
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        return df

    run.__name__ = getattr(fn, "__name__", "q")
    return run


# ---------------------------------------------------------------------------
# RETRIEVAL — Okapi BM25 ranked keyword search (operators/retrieval.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "query", "window"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by Okapi BM25 for a fixed 3-term query.  Only
    the query terms' postings are shuffled (token filter before the
    (doc, term) aggregation); N/avgdl enter as a 1-row broadcast
    aggregate; the top-k compiles to TakeOrderedAndProject.  Scores
    fold in term order, so the doubles are partitioning-invariant."""
    from csp_gateway_spark.operators.retrieval import bm25_topk

    docs = _ts(spark, sf_dir, "documents")
    out = bm25_topk(
        docs, _BM25_TERMS, k=20,
        post=_postings(spark, sf_dir), lengths=_doc_lengths(spark, sf_dir),
    )
    return out.select(
        "doc_id",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.round("score", 6).alias("score"),
    )


ORACLE_BM25_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
), dl AS (
  SELECT doc_id, len({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS dl FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ('spark', 'query', 'window') GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), part AS (
  SELECT tf.doc_id, tf.token,
    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (CAST(tf AS DOUBLE) * 2.5
         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS s
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
), folded AS (
  SELECT doc_id,
         CAST(len(list(s ORDER BY token)) AS BIGINT) AS n_terms,
         list_sum(list(s ORDER BY token)) AS score_raw
  FROM part GROUP BY 1
)
SELECT doc_id, n_terms, round(score_raw, 6) AS score
FROM folded ORDER BY score_raw DESC, doc_id ASC LIMIT 20
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# WEB — URL canonicalization + URL-keyed dedup (operators/web.py)
# ---------------------------------------------------------------------------
# The synthetic corpus has no URL column, so both engines derive the
# same messy URL deterministically from (doc_id, source, lang); the
# ORACLE then states the EXPECTED canonical form from first principles
# (not by mirroring the regex pipeline) — a genuinely independent
# check of the canonicalizer semantics.


def _messy_url() -> "F.Column":
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 4 == 1, F.lit(".Sample.CO.UK")).otherwise(F.lit(".Example.COM")),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        F.col("lang"),
        F.lit("/"),
        (d % 50).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 5 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


_SQL_MESSY_URL = """
  'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || source
  || CASE WHEN doc_id % 4 = 1 THEN '.Sample.CO.UK' ELSE '.Example.COM' END
  || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
  || '/Docs/' || lang || '/' || CAST(doc_id % 50 AS VARCHAR)
  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&b=2&a=1'
          WHEN doc_id % 5 = 1 THEN '?a=1&b=2' ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
"""

_SQL_CANON_URL = """
  'https://' || source
  || CASE WHEN doc_id % 4 = 1 THEN '.sample.co.uk' ELSE '.example.com' END
  || '/Docs/' || lang || '/' || CAST(doc_id % 50 AS VARCHAR)
  || CASE WHEN doc_id % 5 IN (0, 1) THEN '?a=1&b=2' ELSE '' END
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize a messy URL per doc (mixed-case scheme/host, www,
    default port, trailing slash, tracking params, fragment) and
    extract host + registered domain — pure scan-local projection."""
    from csp_gateway_spark.operators.web import canonical_url, registered_domain, url_host

    docs = _ts(spark, sf_dir, "documents")
    u = _messy_url()
    return docs.select(
        "doc_id",
        u.alias("url"),
        canonical_url(u).alias("canon_url"),
        url_host(u).alias("host"),
        registered_domain(u).alias("domain"),
    )


ORACLE_URL_CANONICAL = f"""
SELECT doc_id,
  {_SQL_MESSY_URL} AS url,
  {_SQL_CANON_URL} AS canon_url,
  source || CASE WHEN doc_id % 4 = 1 THEN '.sample.co.uk' ELSE '.example.com' END AS host,
  CASE WHEN doc_id % 4 = 1 THEN 'sample.co.uk' ELSE 'example.com' END AS domain
FROM documents
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins URL dedup: one map-side-combined
    aggregation keyed on the canonical URL."""
    from csp_gateway_spark.operators.web import url_dedup

    docs = _ts(spark, sf_dir, "documents")
    return url_dedup(docs.select("doc_id", _messy_url().alias("url")))


ORACLE_URL_DEDUP = f"""
WITH c AS (SELECT doc_id, {_SQL_CANON_URL} AS canon_url FROM documents)
SELECT canon_url, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM c GROUP BY 1
"""


# ---------------------------------------------------------------------------
# CORPUS — per-source distribution drift: KL(source ‖ corpus)
# ---------------------------------------------------------------------------


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus distribution over the corpus top-512 vocabulary + one OOV
    bucket (state bounded at V+1 cells per group by design); add-0.5
    smoothing; token-ordered fold for partitioning-invariant doubles."""
    from csp_gateway_spark.operators.corpus import source_drift

    docs = _ts(spark, sf_dir, "documents")
    out = source_drift(docs, top_v=512, counts=_src_tok_counts(spark, sf_dir))
    return out.select(
        "source",
        "n_tokens",
        F.round("oov_rate", 6).alias("oov_rate"),
        F.round("kl", 6).alias("kl"),
    )


ORACLE_SOURCE_DRIFT = f"""
WITH rws AS (
  SELECT source, unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
), cc AS (
  SELECT token, COUNT(*) AS c_corp FROM rws GROUP BY 1
), vocab AS (
  SELECT token, c_corp FROM cc ORDER BY c_corp DESC, token ASC LIMIT 512
), vstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(c_corp) AS BIGINT) AS vocab_corp FROM vocab
), cstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_c FROM rws
), st AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM rws GROUP BY 1
), sv AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_s FROM rws
  WHERE token IN (SELECT token FROM vocab) GROUP BY 1, 2
), grid AS (
  SELECT st.source, st.n_s, v.token, COALESCE(sv.c_s, 0) AS c_s, v.c_corp
  FROM st CROSS JOIN vocab v
  LEFT JOIN sv ON sv.source = st.source AND sv.token = v.token
), psv AS (
  SELECT source, n_s, CAST(SUM(c_s) AS BIGINT) AS vocab_s FROM grid GROUP BY 1, 2
), cells AS (
  SELECT source, n_s, token, c_s, c_corp FROM grid
  UNION ALL
  SELECT p.source, p.n_s, '~~oov~~', p.n_s - p.vocab_s, c.n_c - vs.vocab_corp
  FROM psv p, cstats c, vstats vs
), terms AS (
  SELECT source, n_s, token,
    ((CAST(c_s AS DOUBLE) + 0.5) / (CAST(n_s AS DOUBLE) + 0.5 * (v + 1)))
      * ln(((CAST(c_s AS DOUBLE) + 0.5) / (CAST(n_s AS DOUBLE) + 0.5 * (v + 1)))
           / ((CAST(c_corp AS DOUBLE) + 0.5) / (CAST(n_c AS DOUBLE) + 0.5 * (v + 1)))) AS t
  FROM cells, cstats, vstats
), folded AS (
  SELECT source, n_s, list_sum(list(t ORDER BY token)) AS kl FROM terms GROUP BY 1, 2
)
SELECT f.source, f.n_s AS n_tokens,
  round(CAST(p.n_s - p.vocab_s AS DOUBLE) / CAST(p.n_s AS DOUBLE), 6) AS oov_rate,
  round(f.kl, 6) AS kl
FROM folded f JOIN psv p USING (source, n_s)
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# TEXT — published rule-set quality filters: Gopher §A1.1 and C4 §2.2
# ---------------------------------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher MassiveWeb per-doc quality rules (arXiv:2112.11446
    §A1.1): word count / mean word length bounds, symbol ratio,
    bullet- and ellipsis-line fractions, alpha-word fraction, stopword
    presence, combined keep.  Pure scan-local projection."""
    from csp_gateway_spark.operators.text import gopher_stats

    return gopher_stats(_ts(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_GOPHER_QUALITY = r"""
WITH b AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents
), w AS (
  SELECT doc_id, t,
    list_filter(regexp_split_to_array(trim(t), '\s+'), x -> x != '') AS words,
    list_filter(string_split(t, chr(10)), l -> trim(l) != '') AS lines
  FROM b
), c AS (
  SELECT doc_id,
    len(words) AS n_words,
    COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS sum_len,
    length(t) - length(replace(t, '#', '')) AS n_hash,
    (length(t) - length(replace(t, '...', ''))) / 3
      + (length(t) - length(replace(t, chr(8230), ''))) AS n_ell,
    len(lines) AS n_lines,
    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*' || chr(8226) || chr(8227) || ']'))) AS n_bullet,
    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|' || chr(8230) || ')$'))) AS n_ellline,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    CAST(list_contains(list_transform(words, x -> lower(x)), 'the') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'be') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'to') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'of') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'and') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'that') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'have') AS INT)
      + CAST(list_contains(list_transform(words, x -> lower(x)), 'with') AS INT) AS stop_hits
  FROM w
), m AS (
  SELECT doc_id, n_words, n_lines, stop_hits,
    CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END AS mean_len,
    CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
    CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_frac,
    CASE WHEN n_lines > 0 THEN CAST(n_ellline AS DOUBLE) / n_lines ELSE 0.0 END AS ell_frac,
    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac
  FROM c
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  round(mean_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_line_frac,
  round(ell_frac, 6) AS ellipsis_line_frac,
  round(alpha_frac, 6) AS alpha_word_frac,
  CAST(stop_hits AS BIGINT) AS stopword_hits,
  CASE WHEN n_words >= 50 AND n_words <= 100000
        AND mean_len >= 3.0 AND mean_len <= 10.0
        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ell_frac <= 0.3
        AND alpha_frac >= 0.8 AND stop_hits >= 2
       THEN 1 ELSE 0 END AS gopher_keep
FROM m ORDER BY doc_id
"""


def q_c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning statistics (arXiv:1910.10683 §2.2): terminal-punct
    line fraction, sentence count, lorem/brace/javascript boilerplate
    flags, combined doc keep.  Pure scan-local projection."""
    from csp_gateway_spark.operators.text import c4_stats

    return c4_stats(_ts(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_C4_QUALITY = r"""
WITH b AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents
), w AS (
  SELECT doc_id, t,
    list_filter(string_split(t, chr(10)), l -> trim(l) != '') AS lines
  FROM b
), c AS (
  SELECT doc_id,
    len(lines) AS n_lines,
    len(list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"' || chr(8221) || ']$'))) AS n_term,
    length(regexp_replace(t, '[^.!?]', '', 'g')) AS n_sent,
    CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem,
    CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS has_brace,
    len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS n_js
  FROM w
)
SELECT doc_id,
  CAST(n_lines AS BIGINT) AS n_lines,
  round(CASE WHEN n_lines > 0 THEN CAST(n_term AS DOUBLE) / n_lines ELSE 0.0 END, 6) AS terminal_line_frac,
  CAST(n_sent AS BIGINT) AS n_sentences,
  has_lorem, has_brace,
  round(CASE WHEN n_lines > 0 THEN CAST(n_js AS DOUBLE) / n_lines ELSE 0.0 END, 6) AS js_line_frac,
  CASE WHEN n_sent >= 3 AND has_lorem = 0 AND has_brace = 0 THEN 1 ELSE 0 END AS c4_keep
FROM c ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# CORPUS — trigram stupid-backoff LM quality score (train-on-reference)
# ---------------------------------------------------------------------------

_BACKOFF_TRAIN_SRC = "src0"


def q_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM (Brants et al. 2007 §4) trained on
    one reference source, scoring the whole corpus — unseen trigrams
    back off to bigram/unigram/OOV-floor with α=0.5 (binary-exact).
    Per-doc sum is a position-ordered fold."""
    from csp_gateway_spark.operators.corpus import lm_score_backoff

    docs = _ts(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") == _BACKOFF_TRAIN_SRC)
    c1 = (
        _src_tok_counts(spark, sf_dir)
        .filter(F.col("source") == _BACKOFF_TRAIN_SRC)
        .select("token", F.col("_c").alias("_c1"))
    )
    return (
        lm_score_backoff(docs, train, c1=c1)
        .select(
            "doc_id",
            F.round("avg_logs", 6).alias("avg_logs"),
            F.round("ppl", 6).alias("ppl"),
        )
        .orderBy("doc_id")
    )


ORACLE_LM_BACKOFF = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS t FROM documents
), ttk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS t
  FROM documents WHERE source = '{_BACKOFF_TRAIN_SRC}'
), tri_tr AS (
  SELECT t[j] AS w1, t[j + 1] AS w2, t[j + 2] AS w3
  FROM ttk, unnest(range(1, len(t) - 1)) r(j)
), c3 AS (
  SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri_tr GROUP BY 1, 2, 3
), big_tr AS (
  SELECT t[j] AS w1, t[j + 1] AS w2
  FROM ttk, unnest(range(1, len(t))) r(j)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big_tr GROUP BY 1, 2
), uni_tr AS (
  SELECT unnest(t) AS w FROM ttk
), c1 AS (
  SELECT w, COUNT(*) AS c1 FROM uni_tr GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni_tr
), tri AS (
  SELECT doc_id, j AS pos, t[j] AS w1, t[j + 1] AS w2, t[j + 2] AS w3
  FROM tk, unnest(range(1, len(t) - 1)) r(j)
), scored AS (
  SELECT tri.doc_id, tri.pos,
    ln(CASE
      WHEN c3.c123 IS NOT NULL THEN CAST(c3.c123 AS DOUBLE) / CAST(b12.c12 AS DOUBLE)
      WHEN b23.c12 IS NOT NULL THEN 0.5 * (CAST(b23.c12 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
      WHEN u3.c1 IS NOT NULL THEN 0.5 * 0.5 * (CAST(u3.c1 AS DOUBLE) / n)
      ELSE 0.5 * 0.5 * (0.5 / n)
    END) AS ls
  FROM tri
  LEFT JOIN c3 ON tri.w1 = c3.w1 AND tri.w2 = c3.w2 AND tri.w3 = c3.w3
  LEFT JOIN c2 b12 ON tri.w1 = b12.w1 AND tri.w2 = b12.w2
  LEFT JOIN c2 b23 ON tri.w2 = b23.w1 AND tri.w3 = b23.w2
  LEFT JOIN c1 u3 ON tri.w3 = u3.w
  LEFT JOIN c1 u2 ON tri.w2 = u2.w, nn
), pd AS (
  SELECT doc_id, list(ls ORDER BY pos) AS lss FROM scored GROUP BY 1
)
SELECT d.doc_id,
  round(list_sum(lss) / len(lss), 6) AS avg_logs,
  round(exp(-(list_sum(lss) / len(lss))), 6) AS ppl
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
ORDER BY d.doc_id
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# CURATION — token-budget mixture planner (operators/curation.py)
# ---------------------------------------------------------------------------

_BUDGET_WEIGHTS = {"src0": 3.0, "src1": 1.5, "src2": 1.0, "src3": 0.5}
_BUDGET_TOKENS = 100000


def q_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan for a fixed token budget and target
    mixture weights: rate = (budget·w/Σw)/tokens, split into whole
    epochs + fractional remainder — one map-side-combined aggregation
    over the corpus, weights as a WHEN chain."""
    from csp_gateway_spark.operators.curation import budget_mix_plan

    docs = _ts(spark, sf_dir, "documents")
    out = budget_mix_plan(docs, _BUDGET_WEIGHTS, _BUDGET_TOKENS)
    return out.select(
        "source",
        "n_docs",
        "tokens",
        "weight",
        F.round("target_tokens", 6).alias("target_tokens"),
        F.round("rate", 6).alias("rate"),
        "epochs",
        F.round("frac", 6).alias("frac"),
    ).orderBy("source")


ORACLE_BUDGET_MIX = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_SQL_TOKS.replace("trim(lower(text))", "{norm}")})) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
), ww AS (
  SELECT source, n_docs, tokens,
    CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.5
                WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 0.5 ELSE 0.0 END AS weight
  FROM per
), rr AS (
  SELECT source, n_docs, tokens, weight,
    CAST({float(_BUDGET_TOKENS)} AS DOUBLE) * weight / 6.0 AS target_tokens,
    CASE WHEN tokens > 0
         THEN CAST({float(_BUDGET_TOKENS)} AS DOUBLE) * weight / 6.0 / CAST(tokens AS DOUBLE)
         ELSE 0.0 END AS rate
  FROM ww
)
SELECT source, n_docs, tokens, weight,
  round(target_tokens, 6) AS target_tokens,
  round(rate, 6) AS rate,
  CAST(floor(rate) AS BIGINT) AS epochs,
  round(rate - floor(rate), 6) AS frac
FROM rr ORDER BY source
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# DEDUP — order-insensitive bag fingerprint + k-gram novelty profile
# ---------------------------------------------------------------------------


def q_bag_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-multiset (order-insensitive) dedup groups: catches
    sentence-reordered copies exact hashing misses — one map-side
    combined aggregation on the sorted-token md5."""
    from csp_gateway_spark.operators.dedup import bag_dedup

    return bag_dedup(_ts(spark, sf_dir, "documents"))


ORACLE_BAG_DEDUP = f"""
SELECT md5(array_to_string(list_sort({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}), ' ')) AS bag_fp,
       MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
""".replace("{norm}", _SQL_NORM)


_NOVELTY_K = 8


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc's distinct 8-gram shingles occurring in no
    other document — the scored complement of dedup (low novelty =
    template/near-copy; also a memorization-risk signal)."""
    from csp_gateway_spark.operators.dedup import ngram_novelty

    sh = _sh8(spark, sf_dir).select("doc_id", F.col("_h").alias("_s"))
    out = ngram_novelty(_ts(spark, sf_dir, "documents"), k=_NOVELTY_K, sh=sh)
    # no ORDER BY: the gate compare is order-insensitive and the final
    # global sort exchange was ~5% of the query's wall clock
    return out.select(
        "doc_id",
        "n_grams",
        "novel_grams",
        F.round("novelty", 6).alias("novelty"),
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS.replace("trim(lower(text))", "{norm}")} AS t FROM documents
), sh_long AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(t[j:j + {_NOVELTY_K - 1}], ' ')), 1, 15))::BIGINT AS s
  FROM tk, unnest(range(1, len(t) - {_NOVELTY_K - 2})) r(j) WHERE len(t) >= {_NOVELTY_K}
), sh_short AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(t, ' ')), 1, 15))::BIGINT AS s
  FROM tk WHERE len(t) < {_NOVELTY_K}
), sh AS (
  SELECT * FROM sh_long UNION ALL SELECT * FROM sh_short
), dfq AS (
  SELECT s, COUNT(*) AS dfc FROM sh GROUP BY 1
), pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams
  FROM sh JOIN dfq USING (s) GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(pd.n_grams, 0) AS n_grams,
  COALESCE(pd.novel_grams, 0) AS novel_grams,
  round(CASE WHEN pd.n_grams > 0 THEN CAST(pd.novel_grams AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
             ELSE 0.0 END, 6) AS novelty
FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# CURATION — length-bucketed batch packing + padding-waste report
# ---------------------------------------------------------------------------

_BATCH_SIZE = 16
_BATCH_SHARDS = 4


def q_padding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length-bucketed batching (bit-trick buckets, no
    float log2) with per-(bucket, shard) deterministic windows, then
    the padding-waste report a serving team tunes batch sizes with."""
    from csp_gateway_spark.operators.curation import pack_batches, padding_stats

    docs = _ts(spark, sf_dir, "documents")
    out = padding_stats(pack_batches(docs, batch_size=_BATCH_SIZE, n_shards=_BATCH_SHARDS))
    return out.orderBy("bucket", "shard", "batch_id")


ORACLE_PADDING_REPORT = f"""
WITH base AS (
  SELECT doc_id,
         len({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT % {_BATCH_SHARDS} AS shard
  FROM documents
), b AS (
  SELECT doc_id, n_tokens, shard,
         CASE WHEN n_tokens <= 1 THEN 1
              ELSE CAST(1 << length(bin(n_tokens - 1)) AS BIGINT) END AS bucket
  FROM base
), rn AS (
  SELECT doc_id, n_tokens, shard, bucket,
         row_number() OVER (PARTITION BY bucket, shard ORDER BY n_tokens DESC, doc_id ASC) AS r
  FROM b
), batched AS (
  SELECT bucket, shard, CAST(floor((r - 1) / {_BATCH_SIZE}.0) AS BIGINT) AS batch_id, n_tokens
  FROM rn
)
SELECT bucket, shard, batch_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  MAX(n_tokens) AS max_len,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM batched GROUP BY 1, 2, 3 ORDER BY bucket, shard, batch_id
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# TEXT — per-source PII exposure report
# ---------------------------------------------------------------------------
# The synthetic corpus carries no PII, so both engines append the same
# deterministic PII-bearing suffixes first — the report then has real
# nonzero counts to hash-check.


def q_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII class counts (emails / phone-like / IPv4 / card-like) per
    source + docs-with-any — the pre-release compliance report and the
    mask_pii regression gate."""
    from csp_gateway_spark.operators.text import pii_report

    docs = _ts(spark, sf_dir, "documents")
    d = F.col("doc_id")
    spiked = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(d % 5 == 0, F.lit(" contact bob@example.com now")).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" call +1 (555) 123-4567")).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit(" from 192.168.10.1 addr")).otherwise(F.lit("")),
            F.when(d % 13 == 0, F.lit(" pan 4111111111111111 ok")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_report(spiked).orderBy("source")


ORACLE_PII_REPORT = r"""
WITH spiked AS (
  SELECT source,
    text || CASE WHEN doc_id % 5 = 0 THEN ' contact bob@example.com now' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' call +1 (555) 123-4567' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.10.1 addr' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' pan 4111111111111111 ok' ELSE '' END AS t
  FROM documents
), c AS (
  SELECT source,
    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
    len(regexp_extract_all(t, '\+?\d[\d ()-]{7,}\d')) AS p,
    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS i,
    len(regexp_extract_all(t, '\b\d{16}\b')) AS cc
  FROM spiked
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(e) AS BIGINT) AS emails,
  CAST(SUM(p) AS BIGINT) AS phones,
  CAST(SUM(i) AS BIGINT) AS ipv4s,
  CAST(SUM(cc) AS BIGINT) AS card_like,
  CAST(SUM(CASE WHEN e + p + i + cc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
FROM c GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# ANALYTICS — ANALYZE-style table profile (operators/analytics.py)
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of lineitem — rows/nulls/exact distincts/min/max
    per column in ONE aggregation pass + a stack() unpivot."""
    from csp_gateway_spark.operators.analytics import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(li, _PROFILE_COLS, exact=True).orderBy("col_name")


ORACLE_PROFILE_TABLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(MIN({c}) AS VARCHAR) AS min_str,
  CAST(MAX({c}) AS VARCHAR) AS max_str
FROM lineitem"""
    for c in _PROFILE_COLS
) + "\nORDER BY col_name"


# ---------------------------------------------------------------------------
# ANALYTICS — percentile winsorization (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip lineitem price/quantity to their [5%, 95%] exact
    percentiles (one bounds aggregation broadcast back, scan-local
    clip) and report per-returnflag min/max of the clipped values plus
    how many rows each clip touched."""
    from csp_gateway_spark.operators.analytics import winsorize

    # NOT _ts (A/B r14): the percentile aggregate's map-side combine
    # does not win back the cost of round-robin-shuffling the raw
    # fact rows (3.28 -> 3.96 s measured same-phase)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    orig = li.select(
        "l_returnflag",
        F.col("price").alias("_op"),
        F.col("qty").alias("_oq"),
        "price",
        "qty",
    )
    lo_p, hi_p = _pctl_probe(li.select("price"), "price", [0.05, 0.95])
    w = winsorize(
        orig,
        ["price", "qty"],
        lower=0.05,
        upper=0.95,
        bounds={"price": (lo_p, hi_p)},
    )
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("price"), 6).alias("min_price"),
        F.round(F.max("price"), 6).alias("max_price"),
        F.round(F.min("qty"), 6).alias("min_qty"),
        F.round(F.max("qty"), 6).alias("max_qty"),
        F.sum(F.when(F.col("price") != F.col("_op"), 1).otherwise(0)).alias("clipped_price"),
        F.sum(F.when(F.col("qty") != F.col("_oq"), 1).otherwise(0)).alias("clipped_qty"),
    ).orderBy("l_returnflag")


ORACLE_WINSORIZE_PRICES = """
WITH b AS (
  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo_p,
         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi_p,
         quantile_cont(CAST(l_quantity AS DOUBLE), 0.05) AS lo_q,
         quantile_cont(CAST(l_quantity AS DOUBLE), 0.95) AS hi_q
  FROM lineitem
), c AS (
  SELECT l_returnflag,
    CAST(l_extendedprice AS DOUBLE) AS op, CAST(l_quantity AS DOUBLE) AS oq,
    least(greatest(CAST(l_extendedprice AS DOUBLE), lo_p), hi_p) AS p,
    least(greatest(CAST(l_quantity AS DOUBLE), lo_q), hi_q) AS q
  FROM lineitem, b
)
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(MIN(p), 6) AS min_price, round(MAX(p), 6) AS max_price,
  round(MIN(q), 6) AS min_qty, round(MAX(q), 6) AS max_qty,
  CAST(SUM(CASE WHEN p != op THEN 1 ELSE 0 END) AS BIGINT) AS clipped_price,
  CAST(SUM(CASE WHEN q != oq THEN 1 ELSE 0 END) AS BIGINT) AS clipped_qty
FROM c GROUP BY 1 ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# CURATION — deterministic per-group exemplar sample
# ---------------------------------------------------------------------------


def q_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three reproducible exemplar docs per source (smallest seeded
    id-hash; group-partitioned window, never corpus-global)."""
    from csp_gateway_spark.operators.curation import exemplars

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    return exemplars(docs, n=3).select("source", "rank", "doc_id").orderBy(
        "source", "rank"
    )


ORACLE_EXEMPLARS = """
SELECT source, rank, doc_id FROM (
  SELECT source, doc_id,
    row_number() OVER (
      PARTITION BY source
      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT ASC,
               doc_id ASC
    ) AS rank
  FROM documents
) WHERE rank <= 3 ORDER BY source, rank
"""


# ---------------------------------------------------------------------------
# ANALYTICS — first-touch funnel (operators/analytics.py::funnel)
# ---------------------------------------------------------------------------


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase conversion funnel over the event stream.
    One groupBy(user) of conditional mins + a 1-row global aggregate —
    two-stage plan, no joins/windows."""
    from csp_gateway_spark.operators.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"]).orderBy("stage_idx")


ORACLE_FUNNEL = """
WITH f AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t0,
    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END) AS t1,
    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS t2
  FROM events GROUP BY 1
), c AS (
  SELECT
    CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                   AND t2 IS NOT NULL AND t2 >= t1
             THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM f
)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'view' AS stage, n0 AS users,
         CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS conv FROM c
  UNION ALL
  SELECT 2, 'click', n1, CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
  UNION ALL
  SELECT 3, 'purchase', n2, CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
) ORDER BY stage_idx
"""


# ---------------------------------------------------------------------------
# ANALYTICS — cohort retention triangle (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers by first-order month × months-later reorder — the
    retention heatmap input.  Integer month arithmetic, engine-exact."""
    from csp_gateway_spark.operators.analytics import retention_cohorts

    orders = _t(spark, sf_dir, "orders")
    out = retention_cohorts(orders)
    return out.select(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
        "month_offset",
        "customers",
    ).orderBy("cohort_month", "month_offset")


ORACLE_RETENTION = """
WITH m AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS m FROM orders
), c AS (
  SELECT o_custkey, m, min(m) OVER (PARTITION BY o_custkey) AS cohort FROM m
)
SELECT strftime(cohort, '%Y-%m') AS cohort_month,
       CAST((year(m) - year(cohort)) * 12 + month(m) - month(cohort) AS INT)
         AS month_offset,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# WINDOWS — trailing-20 moving aggregates (operators/windows.py)
# ---------------------------------------------------------------------------


def q_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row sum/count/min/max of `value` per event_type,
    ordered by (ts, event_id).  Decimal rolling sum — windowed double
    summation trees differ across engines; decimal is exact."""
    from csp_gateway_spark.operators.windows import rolling_stats

    ev = _t(spark, sf_dir, "events")
    out = rolling_stats(
        ev, "value", keys=["event_type"], order_cols=["ts", "event_id"], n=20
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("roll_sum").cast("double").alias("roll_sum"),
        "roll_n",
        "roll_min",
        "roll_max",
    ).orderBy("event_type", "event_id")


ORACLE_ROLLING_VALUE = """
SELECT event_id, event_type,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
  CAST(COUNT(value) OVER w AS BIGINT) AS roll_n,
  MIN(value) OVER w AS roll_min,
  MAX(value) OVER w AS roll_max
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY event_type, event_id
"""


# ---------------------------------------------------------------------------
# WINDOWS — gap-fill resample with LOCF (operators/windows.py)
# ---------------------------------------------------------------------------


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour grid per user from first to last event, last observed
    value carried across empty buckets.  Grid generated distributed
    (sequence+explode per key); carried values, engine-exact."""
    from csp_gateway_spark.operators.windows import gap_fill_locf

    ev = _t(spark, sf_dir, "events")
    out = gap_fill_locf(ev, "ts", "value", keys=["user_id"], step_sec=21600)
    return out.select(
        "user_id", "bucket_start", "value", F.col("observed").cast("int").alias("observed")
    ).orderBy("user_id", "bucket_start")


ORACLE_GAP_FILL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tns, value FROM events
), pb AS (
  SELECT user_id, bucket_start, value AS v FROM (
    SELECT user_id, (tns // 21600000000000) * 21600 AS bucket_start, value,
           row_number() OVER (PARTITION BY user_id, tns // 21600000000000
                              ORDER BY tns DESC, value DESC) AS rn
    FROM e
  ) WHERE rn = 1
), b AS (
  SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
  FROM pb GROUP BY 1
), g AS (
  SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS bucket_start FROM b
)
SELECT g.user_id, g.bucket_start,
  last_value(pb.v IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.bucket_start
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  CAST(pb.v IS NOT NULL AS INT) AS observed
FROM g LEFT JOIN pb ON g.user_id = pb.user_id AND g.bucket_start = pb.bucket_start
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# RETRIEVAL — hybrid search: BM25 ⊕ cosine via reciprocal-rank fusion
# ---------------------------------------------------------------------------


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hybrid results: RRF of the BM25 top-50 (lexical) and
    the embedding-cosine top-50 (semantic; doc_id ≡ vec_id in the
    testdata).  Both candidate lists are TakeOrdered top-k; rank
    windows run over the ≤50-row lists only; the fused join is
    broadcast-sized regardless of corpus size."""
    from csp_gateway_spark.operators.retrieval import bm25_topk, rrf_fuse
    from csp_gateway_spark.operators.similarity import cosine_topk

    docs = _ts(spark, sf_dir, "documents")
    emb = _ts(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    lex = bm25_topk(
        docs, _BM25_TERMS, k=50,
        post=_postings(spark, sf_dir), lengths=_doc_lengths(spark, sf_dir),
    ).select("doc_id", "score")
    sem = cosine_topk(emb.filter(F.col("vec_id") != 0), qv, k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("cos").alias("score")
    )
    out = rrf_fuse([lex, sem], id_col="doc_id", k=20)
    return out.select(
        "doc_id",
        F.col("rank_0").alias("rank_bm25"),
        F.col("rank_1").alias("rank_cos"),
        F.round("rrf", 8).alias("rrf"),
    )


ORACLE_HYBRID_SEARCH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token FROM documents
), dl AS (
  SELECT doc_id, len({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS dl FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ('spark', 'query', 'window') GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), part AS (
  SELECT tf.doc_id, tf.token,
    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (CAST(tf AS DOUBLE) * 2.5
         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS s
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
), folded AS (
  SELECT doc_id, list_sum(list(s ORDER BY token)) AS score_raw
  FROM part GROUP BY 1
), bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_raw DESC, doc_id ASC) AS r1
  FROM folded QUALIFY r1 <= 50
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), cr AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC,
                    vec_id ASC) AS r2
  FROM embeddings, q WHERE vec_id != 0 QUALIFY r2 <= 50
)
SELECT doc_id,
  CAST(r1 AS INT) AS rank_bm25,
  CAST(r2 AS INT) AS rank_cos,
  round(COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)
        + COALESCE(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0), 8) AS rrf
FROM bmr FULL OUTER JOIN cr USING (doc_id)
ORDER BY (COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)
          + COALESCE(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0)) DESC,
         doc_id ASC
LIMIT 20
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# ANALYTICS — market-basket co-purchase pairs (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-ordered part pairs with lift.  Pair blow-up bounded
    by per-order line count; item popularity + order total enter as
    broadcasts; top-k is TakeOrdered."""
    from csp_gateway_spark.operators.analytics import market_basket

    li = _t(spark, sf_dir, "lineitem")
    return market_basket(li, k=20)


ORACLE_MARKET_BASKET = """
WITH ps AS (
  SELECT DISTINCT l_orderkey AS ord, l_partkey AS item FROM lineitem
), pc AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_pair
  FROM ps a JOIN ps b ON a.ord = b.ord AND a.item < b.item GROUP BY 1, 2
), ic AS (
  SELECT item, count(*) AS n FROM ps GROUP BY 1
), no AS (
  SELECT count(DISTINCT ord) AS n_orders FROM ps
)
SELECT item_a, item_b, n_pair,
  CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
    / (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS lift
FROM pc JOIN ic ia ON pc.item_a = ia.item JOIN ic ib ON pc.item_b = ib.item, no
ORDER BY n_pair DESC, item_a ASC, item_b ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# ANALYTICS — MAD robust outlier report (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median/MAD of doc length + count of |x−med|>3·MAD
    outliers.  Exact percentiles on integers ⇒ binary-exact x.0/x.5
    medians both engines."""
    from csp_gateway_spark.operators.analytics import mad_outliers

    docs = _ts(spark, sf_dir, "documents")
    return mad_outliers(docs, "n_chars", group_col="source").orderBy("source")


ORACLE_MAD_OUTLIERS = """
WITH med AS (
  SELECT source, median(n_chars) AS med FROM documents GROUP BY 1
), j AS (
  SELECT d.source, d.n_chars, m.med FROM documents d JOIN med m USING (source)
), mad AS (
  SELECT source, median(abs(CAST(n_chars AS DOUBLE) - med)) AS mad
  FROM j GROUP BY 1
), j2 AS (
  SELECT j.source, j.n_chars, j.med, mad.mad FROM j JOIN mad USING (source)
)
SELECT source, min(med) AS med, min(mad) AS mad,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN abs(CAST(n_chars AS DOUBLE) - med) > 3.0 * mad
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM j2 GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# STATE — SCD type-2 dimension history (operators/state.py::scd2)
# ---------------------------------------------------------------------------


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type: runs collapsed,
    valid_from/valid_to interval per version, is_current flag.  The
    event stream's ts is globally unique (sequential generator), so
    run boundaries are deterministic."""
    from csp_gateway_spark.operators.state import scd2

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    out = scd2(ev, keys=["user_id"], ts_col="ts", attr_cols=["event_type"])
    return out.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from")


ORACLE_SCD2 = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events
), c AS (
  SELECT user_id, event_type, t,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY t) AS prev
  FROM e
), v AS (
  SELECT user_id, event_type, t FROM c
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, t AS valid_from,
       lead(t) OVER (PARTITION BY user_id ORDER BY t) AS valid_to,
       CAST(lead(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL AS INT)
         AS is_current
FROM v ORDER BY user_id, valid_from
"""


# ---------------------------------------------------------------------------
# ANALYTICS — per-group equi-width histogram (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of `value` per event_type.  Grouped
    min/max broadcast back onto the scan; bin index is one double
    expression, identical either engine."""
    from csp_gateway_spark.operators.analytics import equi_width_histogram

    ev = _t(spark, sf_dir, "events")
    out = equi_width_histogram(ev, "value", "event_type", bins=20)
    return out.select(
        "event_type", "bin", F.round("bin_lo", 6).alias("bin_lo"), "n"
    ).orderBy("event_type", "bin")


ORACLE_VALUE_HISTOGRAM = """
WITH rng AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY 1
), binned AS (
  SELECT e.event_type,
         CASE WHEN hi = lo THEN 0
              ELSE CAST(least(19, floor((value - lo) / ((hi - lo) / 20.0))) AS INT)
         END AS bin
  FROM events e JOIN rng USING (event_type)
)
SELECT b.event_type, b.bin,
       round(lo + CAST(b.bin AS DOUBLE) * ((hi - lo) / 20.0), 6) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM binned b JOIN rng ON b.event_type = rng.event_type
GROUP BY 1, 2, lo, hi ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# ANALYTICS — volume-weighted average price (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by notional with exact-decimal VWAP.  One grouped
    decimal aggregation + TakeOrdered."""
    from csp_gateway_spark.operators.analytics import vwap

    li = _t(spark, sf_dir, "lineitem")
    return vwap(li, k=25)


ORACLE_VWAP = """
SELECT l_partkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS notional,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS vwap
FROM lineitem GROUP BY 1
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))) DESC, l_partkey ASC
LIMIT 25
"""


# ---------------------------------------------------------------------------
# ANALYTICS — shuffle-key skew diagnostic (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest user_id keys + share + Herfindahl index of the
    whole key distribution — the pre-shuffle skew check.  Decimal n²
    moments (int64 would overflow at 100 TB key counts)."""
    from csp_gateway_spark.operators.analytics import key_skew

    ev = _t(spark, sf_dir, "events")
    out = key_skew(ev, "user_id", topk=10)
    return out.select(
        "user_id",
        "n",
        F.round("share", 8).alias("share"),
        "n_keys",
        F.round("hhi", 8).alias("hhi"),
    ).orderBy(F.desc("n"), F.asc("user_id"))


ORACLE_KEY_SKEW = """
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
), moments AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS DOUBLE)
           AS ss,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
), top AS (
  SELECT user_id, n FROM counts ORDER BY n DESC, user_id ASC LIMIT 10
)
SELECT user_id, n,
  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 8) AS share,
  n_keys,
  round(ss / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 8) AS hhi
FROM top, moments ORDER BY n DESC, user_id ASC
"""


# ---------------------------------------------------------------------------
# CLASSIFIER — calibration reliability bins (operators/classifier.py)
# ---------------------------------------------------------------------------


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained LR quality filter: fixed
    tenth-wide score bins vs empirical positive rate.  Bins computed
    on the round-6 scores (hash-proven identical cross-engine), so
    bin edges cannot flake on ULPs."""
    from csp_gateway_spark.operators.classifier import calibration_bins, lr_score

    docs, feats, labels = _lrq_parts(spark, sf_dir)
    w = _lrq_weights(spark, sf_dir, feats, labels)
    scores = lr_score(feats, w, docs).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    # two gradient rounds leave raw probabilities tiny; scale by the
    # max score (1-row broadcast, one division — engine-exact) so the
    # reliability bins actually spread
    mx = scores.agg(F.max("score").alias("_mx"))
    scaled = scores.crossJoin(F.broadcast(mx)).select(
        "doc_id", (F.col("score") / F.col("_mx")).alias("score")
    )
    return calibration_bins(scaled, labels).orderBy("bin")


def _oracle_calibration() -> str:
    scored = _oracle_lr_quality_scores().rstrip().rstrip(";")
    return f"""
WITH scored0 AS ({scored}),
mx AS (SELECT max(score) AS m FROM scored0),
scored AS (SELECT doc_id, score / m AS score FROM scored0, mx),
lab AS ({_LRQ_LABEL_CTE})
SELECT CAST(least(9, floor(score * 10.0)) AS INT) AS bin,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(y) AS BIGINT) AS n_pos,
  CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
FROM scored JOIN lab USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# TEXT — language-detector confusion matrix (operators/text.py)
# ---------------------------------------------------------------------------


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled lang × predicted lang counts for the heuristic
    detector — scan-local projection + one small groupBy."""
    from csp_gateway_spark.operators.text import lang_confusion

    docs = _ts(spark, sf_dir, "documents")
    return lang_confusion(docs).orderBy("lang", "lang_pred")


ORACLE_LANG_CONFUSION = f"""
WITH base AS (
  SELECT lang, text, {_SQL_TOKS} AS toks FROM documents
), pred AS (
  SELECT lang,
    len(list_filter(toks, x -> list_contains({_MARK['en']}, x))) AS s_en,
    len(list_filter(toks, x -> list_contains({_MARK['fr']}, x))) AS s_fr,
    len(list_filter(toks, x -> list_contains({_MARK['de']}, x))) AS s_de,
    len(list_filter(toks, x -> list_contains({_MARK['es']}, x))) AS s_es,
    length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk
  FROM base
)
SELECT lang,
  CASE WHEN has_cjk THEN 'zh'
       WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es'
       ELSE 'und' END AS lang_pred,
  CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# CORPUS — class-based TF-IDF distinguishing terms (operators/corpus.py)
# ---------------------------------------------------------------------------


def q_ctfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 c-TF-IDF terms per source.  Rank window bounded by
    per-group vocabulary; group-frequency joins broadcast."""
    from csp_gateway_spark.operators.corpus import ctfidf_terms

    docs = _ts(spark, sf_dir, "documents")
    out = ctfidf_terms(docs, topk=10)
    return out.select(
        "source", "rank", "token", "ctf", "gdf", F.round("score", 6).alias("score")
    ).orderBy("source", "rank")


ORACLE_CTFIDF = f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKS.replace("trim(lower(text))", "{norm}")}) AS token
  FROM documents
), ctf AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS ctf FROM tok GROUP BY 1, 2
), gdf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS gdf FROM ctf GROUP BY 1
), g AS (
  SELECT COUNT(DISTINCT source) AS ng FROM documents
), scored AS (
  SELECT source, token, ctf, gdf,
         ctf * (ln((ng + 1.0) / (gdf + 1)) + 1.0) AS score
  FROM ctf JOIN gdf USING (token), g
)
SELECT source, rank, token, ctf, gdf, round(score, 6) AS score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY score DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY source, rank
""".replace("{norm}", _SQL_NORM)


# ---------------------------------------------------------------------------
# CORPUS — triangle census of the similarity graph (operators/corpus.py)
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation (top-10) + global triangle
    total over the shared-12-gram candidate graph — ordered
    wedge-close, every join keyed on one node column."""
    from csp_gateway_spark.operators.corpus import triangle_count
    from csp_gateway_spark.operators.dedup import shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    edges = _snp_edges(spark, sf_dir)
    return triangle_count(edges, topk=10).orderBy(F.desc("n_tri"), F.asc("node"))


def _oracle_triangle_count() -> str:
    return (
        _snp_sql_prefix()
        + """
, tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM cpairs e1
  JOIN cpairs e2 ON e1.id_b = e2.id_a
  JOIN cpairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri
), pern AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT node, n_tri, n_triangles FROM pern, total
ORDER BY n_tri DESC, node ASC LIMIT 10
"""
    )


# ---------------------------------------------------------------------------
# AUDIT — referential-integrity check (operators/analytics.py::fk_audit)
# ---------------------------------------------------------------------------


def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for three FK relations in one report.  The TPC-H
    relations audit clean; events.user_id→customer.c_custkey is a
    deliberately broken relation (user 0 has no customer row)."""
    from csp_gateway_spark.operators.analytics import fk_audit

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    audits = [
        fk_audit(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"),
        fk_audit(orders, customer, "o_custkey", "c_custkey", "orders->customer"),
        fk_audit(ev, customer, "user_id", "c_custkey", "events->customer"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("relation")


ORACLE_FK_AUDIT = """
SELECT * FROM (
  SELECT 'lineitem->orders' AS relation, CAST(count(*) AS BIGINT) AS n_child,
    CAST(SUM(CASE WHEN c.l_orderkey IS NOT NULL AND p._pk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
    CAST(SUM(CASE WHEN c.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_null_fk
  FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS _pk FROM orders) p
    ON c.l_orderkey = p._pk
  UNION ALL
  SELECT 'orders->customer', CAST(count(*) AS BIGINT),
    CAST(SUM(CASE WHEN c.o_custkey IS NOT NULL AND p._pk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT),
    CAST(SUM(CASE WHEN c.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS _pk FROM customer) p
    ON c.o_custkey = p._pk
  UNION ALL
  SELECT 'events->customer', CAST(count(*) AS BIGINT),
    CAST(SUM(CASE WHEN c.user_id IS NOT NULL AND p._pk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT),
    CAST(SUM(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events c LEFT JOIN (SELECT DISTINCT c_custkey AS _pk FROM customer) p
    ON c.user_id = p._pk
) ORDER BY relation
"""


# ---------------------------------------------------------------------------
# AUDIT — snapshot reconciliation (operators/analytics.py::table_diff)
# ---------------------------------------------------------------------------


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff documents against a deterministically mutated snapshot
    (drop every 7th key, bump n_chars on every 5th, add 3 new keys) —
    added/removed/changed/unchanged counts from ONE full-outer join."""
    from csp_gateway_spark.operators.analytics import table_diff

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mutated = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    new_rows = docs.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.lit(1).cast("long").alias("n_chars")
    )
    b = mutated.unionAll(new_rows)
    return table_diff(docs, b, "doc_id", ["n_chars"]).orderBy("change_type")


ORACLE_TABLE_DIFF = """
WITH a AS (
  SELECT doc_id, n_chars FROM documents
), b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 7 != 0
  UNION ALL
  SELECT doc_id + 100000, CAST(1 AS BIGINT) FROM documents WHERE doc_id < 3
), j AS (
  SELECT a.doc_id AS ka, b.doc_id AS kb, a.n_chars AS na, b.n_chars AS nb
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT CASE WHEN ka IS NULL THEN 'added'
            WHEN kb IS NULL THEN 'removed'
            WHEN na IS NOT DISTINCT FROM nb THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# WINDOWS — per-window heavy hitters (operators/windows.py)
# ---------------------------------------------------------------------------


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by event count per day — rank window partitioned
    by bucket, bounded by the bucket's distinct keys."""
    from csp_gateway_spark.operators.windows import windowed_topk

    ev = _t(spark, sf_dir, "events")
    out = windowed_topk(ev, "ts", "user_id", width_sec=86400, k=3)
    return out.select("bucket_start", "user_id", "n", "rank").orderBy(
        "bucket_start", "rank"
    )


ORACLE_WINDOW_TOPK = """
WITH c AS (
  SELECT (epoch_ns(ts) // 86400000000000) * 86400 AS bucket_start, user_id,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT bucket_start, user_id, n, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY bucket_start ORDER BY n DESC, user_id ASC) AS INT) AS rank
  FROM c
) WHERE rank <= 3 ORDER BY bucket_start, rank
"""


# ---------------------------------------------------------------------------
# WINDOWS — Markov transition matrix (operators/windows.py)
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event | current event) per user sequence — one key
    shuffle for the lead window, state-space-sized totals broadcast."""
    from csp_gateway_spark.operators.windows import event_transitions

    ev = _t(spark, sf_dir, "events")
    out = event_transitions(
        ev, key_col="user_id", type_col="event_type", order_cols=["ts", "event_id"]
    )
    return out.select("cur", "nxt", "n", F.round("p", 8).alias("p")).orderBy(
        "cur", "nxt"
    )


ORACLE_EVENT_TRANSITIONS = """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS nxt
  FROM events
), p AS (
  SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM p GROUP BY 1
)
SELECT cur, nxt, n, round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 8) AS p
FROM p JOIN t USING (cur) ORDER BY cur, nxt
"""


# ---------------------------------------------------------------------------
# WINDOWS — inter-arrival cadence profile (operators/windows.py)
# ---------------------------------------------------------------------------


def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/p90/max gap between consecutive events per event_type —
    the cadence profile that sizes watermarks and session gaps."""
    from csp_gateway_spark.operators.windows import interarrival_stats

    ev = _t(spark, sf_dir, "events")
    out = interarrival_stats(ev, "event_type", "ts", "event_id")
    # round-2, not round-6: the interpolated p90 sits on an exact
    # multiple of 0.1 (integer gaps), but the two engines accumulate
    # ~1e-3 of FP error computing frac*(hi-lo) on 1e9-scale ns values
    return out.select(
        "event_type",
        "n_gaps",
        F.round("p50_ns", 2).alias("p50_ns"),
        F.round("p90_ns", 2).alias("p90_ns"),
        "max_ns",
    ).orderBy("event_type")


ORACLE_INTERARRIVAL = """
WITH g AS (
  SELECT event_type,
         epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_ns(ts), event_id) AS gap
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap, 0.5), 2) AS p50_ns,
       round(quantile_cont(gap, 0.9), 2) AS p90_ns,
       CAST(max(gap) AS BIGINT) AS max_ns
FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# JOINS — as-of directions (operators/joins.py::asof_join)
# ---------------------------------------------------------------------------


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the user's EARLIEST
    view at-or-after it (union+window, one key shuffle)."""
    from csp_gateway_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases, views, on=["user_id"], left_time="ts", right_time="ts",
        right_cols=["event_id"], direction="forward",
    )
    return out.select(
        "user_id", "event_id", F.col("event_id_right").alias("view_event_id")
    ).orderBy("event_id")


ORACLE_ASOF_FORWARD = """
SELECT p.user_id, p.event_id, v.event_id AS view_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts >= p.ts
ORDER BY p.event_id
"""


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (tie → backward, pandas semantics): both carries
    from one key shuffle, mirrored window frames."""
    from csp_gateway_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases, views, on=["user_id"], left_time="ts", right_time="ts",
        right_cols=["event_id"], direction="nearest",
    )
    return out.select(
        "user_id", "event_id", F.col("event_id_right").alias("view_event_id")
    ).orderBy("event_id")


ORACLE_ASOF_NEAREST = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
v AS (SELECT * FROM events WHERE event_type = 'view'),
b AS (
  SELECT p.event_id, p.user_id, p.ts, v.event_id AS bid, v.ts AS bts
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
), f AS (
  SELECT p.event_id, v.event_id AS fid, v.ts AS fts
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
)
SELECT b.user_id, b.event_id,
  CASE WHEN bid IS NULL THEN fid
       WHEN fid IS NULL THEN bid
       WHEN (epoch_ns(fts) - epoch_ns(b.ts)) < (epoch_ns(b.ts) - epoch_ns(bts))
         THEN fid
       ELSE bid END AS view_event_id
FROM b JOIN f USING (event_id) ORDER BY b.event_id
"""


# ---------------------------------------------------------------------------
# ANALYTICS — month-over-month trend (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with MoM delta and percent change; the lag
    window runs over post-aggregation month rows only."""
    from csp_gateway_spark.operators.analytics import period_over_period

    monthly = _monthly_revenue(spark, sf_dir)
    return period_over_period(monthly, date_col="_m", value_col="_rd").orderBy(
        "month"
    )


ORACLE_REVENUE_MOM = """
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month, revenue, lag(revenue) OVER (ORDER BY month) AS prev FROM m
)
SELECT month, revenue, prev,
  revenue - prev AS delta,
  round((revenue - prev) / prev, 8) AS pct
FROM lagged ORDER BY month
"""


# ---------------------------------------------------------------------------
# ANALYTICS — Pareto concentration report (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by part decile — the ntile sorts only the
    collapsed key dimension."""
    from csp_gateway_spark.operators.analytics import pareto

    li = _t(spark, sf_dir, "lineitem")
    return pareto(li).orderBy("decile")


ORACLE_PARETO_REVENUE = """
WITH pk AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), t AS (
  SELECT l_partkey, rev,
         ntile(10) OVER (ORDER BY rev DESC, l_partkey ASC) AS decile
  FROM pk
), d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(rev) AS DOUBLE) AS revenue
  FROM t GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev) AS DOUBLE) AS total FROM pk
)
SELECT decile, n_keys, revenue, round(revenue / total, 8) AS share
FROM d, tot ORDER BY decile
"""


# ---------------------------------------------------------------------------
# AUDIT — Benford first-digit screen (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of o_totalprice vs the Benford
    expectation — string-typed digit extraction, no float log in the
    scan."""
    from csp_gateway_spark.operators.analytics import benford_report

    orders = _t(spark, sf_dir, "orders")
    out = benford_report(orders, "o_totalprice")
    return out.select(
        "digit",
        "n",
        F.round("observed", 8).alias("observed"),
        F.round("expected", 8).alias("expected"),
    ).orderBy("digit")


ORACLE_BENFORD = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
)
SELECT digit, n,
  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 8) AS observed,
  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 8) AS expected
FROM c, t ORDER BY digit
"""


# ---------------------------------------------------------------------------
# CEP — three-step pattern match (composition of interval joins)
# ---------------------------------------------------------------------------


def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern: view →(≤1 d) click →(≤2 d)
    purchase per user, counted per user — two chained interval joins,
    each an equi-join on user plus a range filter (sort-merge + AQE;
    no nested loop)."""
    from csp_gateway_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts").alias("bts")
    )
    vc = interval_join(
        views, clicks, on=["user_id"], left_time="vts", right_time="cts",
        lower=1, upper=86400 * 1_000_000_000,
    )
    vcb = interval_join(
        vc, purchases, on=["user_id"], left_time="cts", right_time="bts",
        lower=1, upper=2 * 86400 * 1_000_000_000,
    )
    return (
        vcb.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("user_id")
    )


ORACLE_CEP_PATTERN = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events
)
SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_matches
FROM e v
JOIN e c ON c.user_id = v.user_id AND c.event_type = 'click'
        AND c.t >= v.t + 1 AND c.t <= v.t + 86400000000000
JOIN e b ON b.user_id = c.user_id AND b.event_type = 'purchase'
        AND b.t >= c.t + 1 AND b.t <= c.t + 172800000000000
WHERE v.event_type = 'view'
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# ANALYTICS — fulfillment latency percentiles
# ---------------------------------------------------------------------------


def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency (days) per order priority: median/p90/max.
    Integer day diffs keep the interpolated percentiles at small
    magnitudes where round-6 is safely engine-exact (cf.
    length_quantiles)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "_days", F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(_days, 0.5)"), 6).alias("p50_days"),
            F.round(F.expr("percentile(_days, 0.9)"), 6).alias("p90_days"),
            F.max("_days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SHIP_LATENCY = """
WITH j AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(days, 0.5), 6) AS p50_days,
       round(quantile_cont(days, 0.9), 6) AS p90_days,
       CAST(max(days) AS INT) AS max_days
FROM j GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# ANALYTICS — engagement KPIs (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly customer churn over the order book: distinct
    (month, customer) keys self-joined one month ahead; the last
    month reports null (nothing to look ahead to)."""
    from csp_gateway_spark.operators.analytics import churn

    orders = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    out = churn(orders, "o_custkey", month)
    return out.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "actives",
        "retained",
        F.round("churn_rate", 8).alias("churn_rate"),
    ).orderBy("month")


ORACLE_CHURN = """
WITH a AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS month, o_custkey AS u
  FROM orders
), lastm AS (
  SELECT max(month) AS lastm FROM a
), j AS (
  SELECT a.month, a.u, b.u AS u_next
  FROM a LEFT JOIN a b
    ON b.month = a.month + INTERVAL 1 MONTH AND b.u = a.u
), pm AS (
  SELECT month, CAST(count(*) AS BIGINT) AS actives,
         CAST(SUM(CASE WHEN u_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS retained
  FROM j GROUP BY 1
)
SELECT strftime(month, '%Y-%m') AS month, actives,
  CASE WHEN month < lastm THEN retained END AS retained,
  CASE WHEN month < lastm
       THEN round(1.0 - CAST(retained AS DOUBLE) / CAST(actives AS DOUBLE), 8)
  END AS churn_rate
FROM pm, lastm ORDER BY 1
"""


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU per month on the order book (order-day actives over
    active days / monthly actives)."""
    from csp_gateway_spark.operators.analytics import stickiness

    orders = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    day = F.to_date("o_orderdate")
    out = stickiness(orders, "o_custkey", day, month)
    return out.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "n_days",
        "mau",
        F.round("stickiness", 8).alias("stickiness"),
    ).orderBy("month")


ORACLE_STICKINESS = """
WITH du AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS month,
         CAST(o_orderdate AS DATE) AS day, o_custkey AS u
  FROM orders
), daily AS (
  SELECT month, day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1, 2
), pm AS (
  SELECT month, CAST(SUM(dau) AS BIGINT) AS dau_sum,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
), mu AS (
  SELECT month, CAST(count(DISTINCT u) AS BIGINT) AS mau FROM du GROUP BY 1
)
SELECT strftime(pm.month, '%Y-%m') AS month, n_days, mau,
  round(CAST(dau_sum AS DOUBLE) / (CAST(n_days AS DOUBLE) * CAST(mau AS DOUBLE)), 8)
    AS stickiness
FROM pm JOIN mu ON pm.month = mu.month ORDER BY 1
"""


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day new vs returning users over the event stream (integer
    day buckets, first-seen from one distinct+min aggregate)."""
    from csp_gateway_spark.operators.analytics import new_vs_returning

    ev = _t(spark, sf_dir, "events")
    day = F.expr("(ts div 86400000000000L) * 86400L")
    return new_vs_returning(ev, "user_id", day).orderBy("day")


ORACLE_NEW_VS_RETURNING = """
WITH du AS (
  SELECT DISTINCT (epoch_ns(ts) // 86400000000000) * 86400 AS day,
         user_id AS u
  FROM events
), firsts AS (
  SELECT u, min(day) AS first_day FROM du GROUP BY 1
)
SELECT du.day, CAST(count(*) AS BIGINT) AS actives,
  CAST(SUM(CASE WHEN du.day = first_day THEN 1 ELSE 0 END) AS BIGINT)
    AS new_users,
  CAST(count(*) - SUM(CASE WHEN du.day = first_day THEN 1 ELSE 0 END) AS BIGINT)
    AS returning
FROM du JOIN firsts ON du.u = firsts.u
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# OLAP — ROLLUP hierarchy totals (native rollup; complements sales_cube)
# ---------------------------------------------------------------------------


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag → linestatus) with GROUPING() level flags —
    the hierarchy-subtotals complement of the full cube in
    `sales_cube`.  One shuffle; Spark expands grouping sets map-side."""
    cells = _rf_ls_cells(spark, sf_dir)
    return (
        cells.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_n").alias("n"),
            F.sum("_sq").alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


ORACLE_SALES_ROLLUP = """
SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
  CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# SEQUENCE MINING — frequent event trigrams (windows.py lead×2)
# ---------------------------------------------------------------------------


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 per-user event-type trigrams — the sequential-pattern
    head behind `event_transitions`.  One key shuffle for the two
    leads (same window sort), one count, TakeOrdered."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grams = (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grams.orderBy(
        F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3")
    ).limit(20)


ORACLE_EVENT_TRIGRAMS = """
WITH s AS (
  SELECT event_type AS e1,
    lead(event_type, 1) OVER w AS e2,
    lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# ANALYTICS — RFM grid, cohort LTV, duplicate-invoice screen
# ---------------------------------------------------------------------------


def _cust_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed per-customer order collapse (o_custkey,
    _last, _freq, _spend decimal(18,2)-summed) — `rfm_segments`,
    `gini` (spend subset) and `top_customers` (spend + name join)
    each rebuilt the identical groupBy otherwise (r14)."""

    def build():
        orders = _t(spark, sf_dir, "orders")
        return (
            orders.groupBy("o_custkey")
            .agg(
                F.max(F.col("o_orderdate")).alias("_last"),
                F.count(F.lit(1)).alias("_freq"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_spend"),
            )
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "cust_orders", build)


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM quartile grid with segment counts and average
    spend — ntile windows over the collapsed customer dimension."""
    from csp_gateway_spark.operators.analytics import rfm_segments

    orders = _t(spark, sf_dir, "orders")
    out = rfm_segments(orders, base=_cust_orders(spark, sf_dir))
    return out.select(
        "r_score", "f_score", "m_score", "n_customers",
        F.round("avg_spend", 6).alias("avg_spend"),
    ).orderBy("r_score", "f_score", "m_score")


ORACLE_RFM_SEGMENTS = """
WITH ref AS (
  SELECT max(o_orderdate) AS refd FROM orders
), pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_d,
         CAST(count(*) AS BIGINT) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1
), sc AS (
  SELECT o_custkey, freq, spend,
         date_diff('day', last_d, refd) AS rec_days
  FROM pc, ref
), t AS (
  SELECT o_custkey, spend,
    CAST(ntile(4) OVER (ORDER BY rec_days DESC, o_custkey ASC) AS INT) AS r_score,
    CAST(ntile(4) OVER (ORDER BY freq ASC, o_custkey ASC) AS INT) AS f_score,
    CAST(ntile(4) OVER (ORDER BY spend ASC, o_custkey ASC) AS INT) AS m_score
  FROM sc
)
SELECT r_score, f_score, m_score,
  CAST(count(*) AS BIGINT) AS n_customers,
  round(CAST(SUM(spend) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_spend
FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per cohort by month offset — the money view
    of the retention triangle; cum window bounded by the date range."""
    from csp_gateway_spark.operators.analytics import cohort_ltv

    orders = _t(spark, sf_dir, "orders")
    out = cohort_ltv(orders)
    return out.select(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
        "month_offset",
        "customers",
        "revenue",
        "cum_revenue",
    ).orderBy("cohort_month", "month_offset")


ORACLE_COHORT_LTV = """
WITH m AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS m, o_totalprice
  FROM orders
), c AS (
  SELECT o_custkey, m, o_totalprice,
         min(m) OVER (PARTITION BY o_custkey) AS cohort
  FROM m
), per AS (
  SELECT strftime(cohort, '%Y-%m') AS cohort_month,
    CAST((year(m) - year(cohort)) * 12 + month(m) - month(cohort) AS INT)
      AS month_offset,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revd
  FROM c GROUP BY 1, 2
)
SELECT cohort_month, month_offset, customers,
  CAST(revd AS DOUBLE) AS revenue,
  CAST(SUM(revd) OVER (PARTITION BY cohort_month ORDER BY month_offset
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS cum_revenue
FROM per ORDER BY cohort_month, month_offset
"""


def q_dup_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-amount duplicate-order screen: same customer, amount in
    the same $100 bucket, within 60 days.  Join keys on (customer,
    bucket) — an equi-join, never a customer cross-product."""
    from csp_gateway_spark.operators.analytics import dup_invoices

    orders = _t(spark, sf_dir, "orders")
    out = dup_invoices(orders, max_days=60, amount_bucket=100.0)
    return out.orderBy("orderkey_a", "orderkey_b")


ORACLE_DUP_INVOICES = """
SELECT a.o_custkey, a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
  CAST(CAST(a.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount_a,
  CAST(CAST(b.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount_b,
  CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate)) AS INT) AS days_apart
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND floor(a.o_totalprice / 100.0) = floor(b.o_totalprice / 100.0)
 AND a.o_orderkey < b.o_orderkey
 AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 60
ORDER BY orderkey_a, orderkey_b
"""


# ---------------------------------------------------------------------------
# STATE — incremental materialized-view maintenance (operators/state.py)
# ---------------------------------------------------------------------------


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a pre-1998 monthly aggregate STATE with the 1998+ delta's
    state and prove the merge equals the from-scratch aggregate (the
    oracle computes it directly from raw orders).  Maintaining the
    view costs O(|delta| + |state|), never a base rescan."""
    from csp_gateway_spark.operators.state import agg_state, merge_agg_state

    orders = _t(spark, sf_dir, "orders").withColumn(
        "month", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    )
    base = agg_state(
        orders.filter(F.col("o_orderdate") < "1998-01-01"), ["month"], "o_totalprice"
    )
    delta = agg_state(
        orders.filter(F.col("o_orderdate") >= "1998-01-01"), ["month"], "o_totalprice"
    )
    merged = merge_agg_state(base, delta, ["month"])
    return merged.select(
        "month",
        "n",
        F.col("sum_v").cast("double").alias("sum_v"),
        "min_v",
        "max_v",
    ).orderBy("month")


ORACLE_INCREMENTAL_AGG = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
  min(o_totalprice) AS min_v,
  max(o_totalprice) AS max_v
FROM orders GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# WINDOWS — funnel within sessions (operators/windows.py)
# ---------------------------------------------------------------------------


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase evaluated per 30-minute session (µs time,
    matching window_session's engine contract)."""
    from csp_gateway_spark.operators.windows import session_funnel

    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    return session_funnel(
        ev, ["view", "click", "purchase"], "user_id", "event_type", "ts_us",
        gap=1800 * 1_000_000,
    ).orderBy("stage_idx")


ORACLE_SESSION_FUNNEL = """
WITH t AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
), marked AS (
  SELECT user_id, event_type, tus,
    CASE WHEN tus - lag(tus) OVER w > 1800000000 OR lag(tus) OVER w IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tus)
), sess AS (
  SELECT user_id, event_type, tus,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM marked
), firsts AS (
  SELECT user_id, s,
    min(CASE WHEN event_type = 'view' THEN tus END) AS t0,
    min(CASE WHEN event_type = 'click' THEN tus END) AS t1,
    min(CASE WHEN event_type = 'purchase' THEN tus END) AS t2
  FROM sess GROUP BY 1, 2
), c AS (
  SELECT
    CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                   AND t2 IS NOT NULL AND t2 >= t1
             THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM firsts
)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'view' AS stage, n0 AS sessions,
         CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS conv FROM c
  UNION ALL
  SELECT 2, 'click', n1, CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
  UNION ALL
  SELECT 3, 'purchase', n2, CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
) ORDER BY stage_idx
"""


# ---------------------------------------------------------------------------
# ANALYTICS — equi-depth histogram (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bucketed histogram of order totals — boundaries from ONE
    percentile aggregate, bucket index via a scan-local array filter."""
    from csp_gateway_spark.operators.analytics import equi_depth_histogram

    orders = _t(spark, sf_dir, "orders")
    out = equi_depth_histogram(orders, "o_totalprice", buckets=10)
    return out.select(
        "bucket", "n", F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi")
    ).orderBy("bucket")


def _oracle_depth_histogram() -> str:
    probes = ", ".join(str(i / 10) for i in range(1, 10))
    return f"""
WITH b AS (
  SELECT quantile_cont(o_totalprice, [{probes}]) AS bounds FROM orders
)
SELECT CAST(len(list_filter(bounds, x -> x <= o_totalprice)) AS INT) AS bucket,
  CAST(count(*) AS BIGINT) AS n,
  round(min(o_totalprice), 6) AS lo,
  round(max(o_totalprice), 6) AS hi
FROM orders, b GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# STATE — MERGE INTO semantics (sources/versioned.py::merge_snapshot)
# ---------------------------------------------------------------------------


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a deterministic I/U/D change batch to the customer
    snapshot: custkey%10==0 updated (acctbal+1, two changes with the
    later ts winning), custkey%15==7 deleted, three new keys
    inserted.  ONE co-partitioned full-outer join after the change
    batch collapses to last-change-per-key."""
    from csp_gateway_spark.sources.versioned import merge_snapshot

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal")
    )
    k = F.col("c_custkey")
    upd_stale = cust.filter(k % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 99).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(100).alias("ts"),
    )
    upd = cust.filter(k % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 1).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(200).alias("ts"),
    )
    dels = cust.filter(k % 15 == 7).select(
        "c_custkey",
        F.lit(None).cast("decimal(18,2)").alias("c_acctbal"),
        F.lit("D").alias("op"),
        F.lit(150).alias("ts"),
    )
    ins = cust.filter(k < 4).select(
        (k + 100000).alias("c_custkey"),
        F.lit(7.5).cast("decimal(18,2)").alias("c_acctbal"),
        F.lit("I").alias("op"),
        F.lit(120).alias("ts"),
    )
    changes = upd_stale.unionByName(upd).unionByName(dels).unionByName(ins)
    merged = merge_snapshot(cust, changes, ["c_custkey"], ts_col="ts")
    return merged.select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
    ).orderBy("c_custkey")


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end versioned-table gate: publish the customer snapshot
    as v1, apply a deterministic U/D change batch through `apply_cdc`
    (ts_col=None — exercises the key-unique guard) to publish v2, then
    TIME-TRAVEL both versions back via `read_version` and reconcile
    them (deleted / updated / unchanged counts + balance delta).  The
    oracle recomputes the same reconciliation from the source table,
    so a pinned read that leaked post-v1 state would hash-mismatch.
    Versions are immutable directories + an atomic manifest pointer
    (sources/versioned.py) — the object-store-safe pattern."""
    import os
    import shutil
    import tempfile

    from csp_gateway_spark.sources.versioned import (
        apply_cdc,
        read_version,
        write_version,
    )

    # per-process token in the path: two concurrent runs (or two repos
    # benched against the same sf name) must not clobber each other's
    # versioned store mid-query
    root = os.path.join(
        tempfile.gettempdir(),
        f"csp_gw_time_travel_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal")
    )
    write_version(cust, root)
    k = F.col("c_custkey")
    upd = cust.filter(k % 5 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 10).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    dels = cust.filter((k % 7 == 3) & (k % 5 != 0)).select(
        "c_custkey",
        F.lit(None).cast("decimal(18,2)").alias("c_acctbal"),
        F.lit("D").alias("op"),
    )
    apply_cdc(spark, root, upd.unionByName(dels), ["c_custkey"])
    v1 = read_version(spark, root, 1).select(
        F.col("c_custkey").alias("_k"), F.col("c_acctbal").alias("_b1")
    )
    v2 = read_version(spark, root, 2).select(
        F.col("c_custkey").alias("_k"), F.col("c_acctbal").alias("_b2")
    )
    j = v1.join(v2, "_k", "left")
    status = (
        F.when(F.col("_b2").isNull(), F.lit("deleted"))
        .when(F.col("_b1") != F.col("_b2"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.coalesce(F.col("_b2"), F.lit(0).cast("decimal(18,2)"))
                - F.coalesce(F.col("_b1"), F.lit(0).cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("bal_delta"),
        )
        .orderBy("status")
    )


ORACLE_TIME_TRAVEL = """
WITH cur AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer
), v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN bal + 10 ELSE bal END AS bal
  FROM cur WHERE NOT (c_custkey % 7 = 3 AND c_custkey % 5 <> 0)
)
SELECT CASE WHEN b.c_custkey IS NULL THEN 'deleted'
            WHEN a.bal <> b.bal THEN 'updated'
            ELSE 'unchanged' END AS status,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(COALESCE(b.bal, 0) - COALESCE(a.bal, 0)) AS DOUBLE) AS bal_delta
FROM cur a LEFT JOIN v2 b ON a.c_custkey = b.c_custkey
GROUP BY 1 ORDER BY 1
"""


ORACLE_CDC_MERGE = """
WITH cur AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer
), changes AS (
  SELECT c_custkey, bal + 99 AS bal, 'U' AS op, 100 AS ts FROM cur WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, bal + 1, 'U', 200 FROM cur WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, NULL, 'D', 150 FROM cur WHERE c_custkey % 15 = 7
  UNION ALL
  SELECT c_custkey + 100000, CAST(7.5 AS DECIMAL(18,2)), 'I', 120 FROM cur WHERE c_custkey < 4
), last AS (
  SELECT c_custkey, arg_max(op, ts) AS op, arg_max(bal, ts) AS bal
  FROM changes GROUP BY 1
), j AS (
  SELECT COALESCE(d.c_custkey, c.c_custkey) AS c_custkey,
         d.op AS op,
         CASE WHEN d.op IS NOT NULL THEN d.bal ELSE c.bal END AS bal
  FROM cur c FULL OUTER JOIN last d ON c.c_custkey = d.c_custkey
)
SELECT c_custkey, CAST(bal AS DOUBLE) AS c_acctbal
FROM j WHERE op IS NULL OR op <> 'D'
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# ANALYTICS — diagonal Mahalanobis outliers (operators/analytics.py)
# ---------------------------------------------------------------------------


def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 lineitem rows by diagonal Mahalanobis distance over
    (quantity, price, discount) — exact-decimal moments, one broadcast,
    TakeOrdered."""
    from csp_gateway_spark.operators.analytics import mahalanobis_outliers

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    out = mahalanobis_outliers(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
        k=20,
        sums=_li_moments(spark, sf_dir),
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", F.round("m2", 6).alias("m2"),
    )


def _oracle_mahalanobis() -> str:
    def z2(c: str, tag: str) -> str:
        mu = f"CAST(s_{tag} AS DOUBLE) / CAST(n AS DOUBLE)"
        var = f"CAST(ss_{tag} AS DOUBLE) / CAST(n AS DOUBLE) - ({mu}) * ({mu})"
        return (
            f"((CAST({c} AS DOUBLE) - {mu}) * (CAST({c} AS DOUBLE) - {mu}) / ({var}))"
        )

    moms = []
    for c, tag in (("l_quantity", "q"), ("l_extendedprice", "p"), ("l_discount", "d")):
        moms.append(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{tag}")
        moms.append(
            f"SUM(CAST(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_{tag}"
        )
    score = f"{z2('l_quantity', 'q')} + {z2('l_extendedprice', 'p')} + {z2('l_discount', 'd')}"
    return f"""
WITH mom AS (
  SELECT count(*) AS n, {', '.join(moms)} FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
       round({score}, 6) AS m2
FROM lineitem, mom
ORDER BY ({score}) DESC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC,
         l_extendedprice ASC, l_discount ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# CORPUS — k-core backbone (operators/corpus.py::kcore)
# ---------------------------------------------------------------------------


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the shared-12-gram graph after 3 peeling rounds —
    degree aggregations + semi-joins, all keyed on node ids."""
    from csp_gateway_spark.operators.corpus import kcore
    from csp_gateway_spark.operators.dedup import shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    edges = _snp_edges(spark, sf_dir)
    return kcore(edges, k=2, rounds=3).orderBy("node")


def _oracle_kcore() -> str:
    body = """
, e0 AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM cpairs
)"""
    prev = "e0"
    for r in (1, 2, 3):
        body += f"""
, d{r} AS (SELECT src, count(*) AS deg FROM {prev} GROUP BY 1)
, k{r} AS (SELECT src FROM d{r} WHERE deg >= 2)
, e{r} AS (
  SELECT {prev}.src, {prev}.dst FROM {prev}
  JOIN k{r} a ON {prev}.src = a.src
  JOIN k{r} b ON {prev}.dst = b.src
)"""
        prev = f"e{r}"
    return (
        _snp_sql_prefix()
        + body
        + f"""
SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
FROM {prev} GROUP BY 1 ORDER BY 1
"""
    )


# ---------------------------------------------------------------------------
# ANALYTICS — conversion lag percentiles (composition)
# ---------------------------------------------------------------------------


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from first view to first purchase for converting users
    (first-touch ordering): one groupBy(user) of conditional mins, one
    tiny percentile aggregate.  Lags are reduced to integer SECONDS
    before the percentile — interpolated quantiles on 1e13-scale ns
    values carry more cross-engine FP error than any fixed rounding
    can absorb (the interarrival 2dp rule stops working past ~1e10)."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("_t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("_t2"),
    )
    lags = firsts.filter(
        F.col("_t0").isNotNull() & F.col("_t2").isNotNull() & (F.col("_t2") >= F.col("_t0"))
    ).select(F.expr("(_t2 - _t0) div 1000000000L").alias("_lag"))
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(_lag, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(_lag, 0.9)"), 6).alias("p90_s"),
        F.max("_lag").alias("max_s"),
    )


ORACLE_CONVERSION_LAG = """
WITH f AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t0,
    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS t2
  FROM events GROUP BY 1
), lags AS (
  SELECT (t2 - t0) // 1000000000 AS lag FROM f
  WHERE t0 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t0
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
  round(quantile_cont(lag, 0.5), 6) AS p50_s,
  round(quantile_cont(lag, 0.9), 6) AS p90_s,
  CAST(max(lag) AS BIGINT) AS max_s
FROM lags
"""


# ---------------------------------------------------------------------------
# CURATION — per-row weighted sampling (operators/curation.py)
# ---------------------------------------------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each doc with probability 0.8·min(n_chars/2000, 1) via the
    seeded 60-bit hash threshold — deterministic, scan-local, no RNG;
    the per-row generalization of stratified sampling."""
    from csp_gateway_spark.operators.curation import weighted_sample

    docs = _ts(spark, sf_dir, "documents").withColumn(
        "_w", F.col("n_chars").cast("double") / F.lit(2000.0)
    )
    out = weighted_sample(docs, "_w", base_fraction=0.8)
    return out.select("doc_id", "source").orderBy("doc_id")


ORACLE_WEIGHTED_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':31'), 1, 15))::BIGINT AS h,
    CAST(floor(0.8 * least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0)
               * 1152921504606846976.0) AS BIGINT) AS thr
  FROM documents
) WHERE h < thr ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ANALYTICS — Theil-Sen robust trend (outlier-immune complement of the
# OLS forecast_revenue)
# ---------------------------------------------------------------------------


def _monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed (month timestamp, rev decimal) collapse of
    orders — theil_sen, revenue_mom, ewma_forecast, periodogram and
    seasonal_index each rebuilt the identical month groupBy (r14);
    re-aggregating the pre-collapsed series through each operator's
    own first groupBy-sum step is the identity (date_trunc/year/month
    of the truncated timestamp are unchanged; monthly sums fit the
    (18,2) re-cast at these SFs)."""

    def build():
        orders = _t(spark, sf_dir, "orders")
        return (
            orders.groupBy(F.date_trunc("month", "o_orderdate").alias("_m"))
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rd"))
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "monthly_revenue", build)


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust monthly-revenue trend: slope = median of all pairwise
    month-to-month slopes, intercept = median(y − slope·x).  The
    pairwise self-join runs on the POST-AGGREGATION month table
    (~80 rows → ~3k pairs), so the O(m²) step is dim-bounded; the
    heavy work is one decimal aggregation."""
    m = _monthly_revenue(spark, sf_dir).select(
        ((F.year("_m") - 1995) * 12 + F.month("_m") - 1).cast("double").alias("x"),
        F.col("_rd").cast("double").alias("y"),
    )
    a, b = m.alias("a"), m.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias("s")
    )
    slope = slopes.agg(F.expr("percentile(s, 0.5)").alias("slope"))
    resid = m.crossJoin(F.broadcast(slope)).select(
        "slope", (F.col("y") - F.col("slope") * F.col("x")).alias("r")
    )
    return resid.groupBy("slope").agg(
        F.expr("percentile(r, 0.5)").alias("intercept"),
        F.count(F.lit(1)).alias("n_months"),
    ).select(
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        "n_months",
    )


ORACLE_THEIL_SEN = """
WITH m AS (
  SELECT CAST((year(date_trunc('month', o_orderdate)) - 1995) * 12
              + month(date_trunc('month', o_orderdate)) - 1 AS DOUBLE) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM orders GROUP BY date_trunc('month', o_orderdate)
), slopes AS (
  SELECT (b.y - a.y) / (b.x - a.x) AS s FROM m a JOIN m b ON a.x < b.x
), sl AS (
  SELECT quantile_cont(s, 0.5) AS slope FROM slopes
)
SELECT round(slope, 6) AS slope,
       round(quantile_cont(y - slope * x, 0.5), 6) AS intercept,
       CAST(count(*) AS BIGINT) AS n_months
FROM m, sl GROUP BY slope
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily order revenue — the
    distribution-free "does a trend exist" companion of `theil_sen`'s
    slope.  S and the tie-corrected variance are exact integer
    arithmetic; the O(days²) pair stage is calendar-bounded."""
    from csp_gateway_spark.operators.analytics import mann_kendall

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "y", unix_key=True)
    out = mann_kendall(daily, "k", "y")
    return out.select(
        "n",
        "s_stat",
        (F.round("var_s", 4) + F.lit(0.0)).alias("var_s"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


def q_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget curve over trigram shingles: the smallest
    frequency-ranked vocabulary covering 50/90/99% of the corpus gram
    mass — one corpus scan, one collapsed two-phase cumulative, one
    broadcast boundary probe per coverage point."""
    from csp_gateway_spark.operators.corpus import token_coverage

    docs = _ts(spark, sf_dir, "documents")
    return token_coverage(
        docs, k=3, coverage=(0.5, 0.9, 0.99), counts=_gram_counts3(spark, sf_dir)
    )


ORACLE_TOKEN_COVERAGE = f"""
WITH g AS (
  SELECT unnest({{sh}}) AS s FROM documents
), c AS (
  SELECT s, CAST(COUNT(*) AS DECIMAL(18,0)) AS c FROM g GROUP BY s
), r AS (
  SELECT s, c,
    ROW_NUMBER() OVER (ORDER BY c DESC, s) AS rn,
    SUM(c) OVER (ORDER BY c DESC, s ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total FROM c
), ps AS (
  SELECT unnest([0.5, 0.9, 0.99]) AS coverage
)
SELECT p.coverage AS coverage,
       CAST(r.rn AS BIGINT) AS vocab_size,
       CAST(r.cum AS BIGINT) AS covered,
       t.total AS total_occurrences
FROM ps p, tot t, r
WHERE p.coverage * CAST(t.total AS DOUBLE) <= CAST(r.cum AS DOUBLE)
  AND p.coverage * CAST(t.total AS DOUBLE) > CAST(r.cum AS DOUBLE) - CAST(r.c AS DOUBLE)
ORDER BY coverage
""".replace("{sh}", _sql_shingles_all(3))


def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity W across order priorities —
    the precondition check for `anova_f` on the same cohorts; exact
    doubled-deviation moments, group-sorted fold."""
    from csp_gateway_spark.operators.analytics import levene_test

    orders = _t(spark, sf_dir, "orders")
    out = levene_test(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "n",
        "k",
        (F.round("ssb", 2) + F.lit(0.0)).alias("ssb"),
        (F.round("ssw", 2) + F.lit(0.0)).alias("ssw"),
        (F.round("f", 6) + F.lit(0.0)).alias("f"),
    )


ORACLE_LEVENE_TEST = """
WITH med AS (
  SELECT o_orderpriority AS g,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
  FROM orders GROUP BY 1
), z AS (
  SELECT m.g,
         CAST(ABS(CAST(2 * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(19,2))
                  - CAST(m.med * 2.0 AS DECIMAL(19,2))) AS DECIMAL(19,2)) AS z2
  FROM orders o JOIN med m ON o.o_orderpriority = m.g
), per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(z2 AS DECIMAL(18,2))) AS sg,
    SUM(CAST(CAST(z2 AS DECIMAL(19,2)) * CAST(z2 AS DECIMAL(19,2))
        AS DECIMAL(38,4))) AS ssg
  FROM z GROUP BY 1
), t AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
    SUM(sg) AS s, SUM(ssg) AS ss,
    list_reduce(list_transform(
      list(struct_pack(g := g,
                       term := CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
           ORDER BY g),
      x -> x.term), (a, b) -> a + b) AS bt
  FROM per
), f AS (
  SELECT n, k,
    bt - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
    CAST(ss AS DOUBLE) - bt AS ssw,
    CAST(k AS DOUBLE) - 1.0 AS df1,
    CAST(n AS DOUBLE) - CAST(k AS DOUBLE) AS df2
  FROM t
)
SELECT n, k, round(ssb, 2) + 0.0 AS ssb, round(ssw, 2) + 0.0 AS ssw,
  round(CASE WHEN df1 > 0 AND df2 > 0 AND ssw > 0
    THEN (ssb / df1) / (ssw / df2) END, 6) + 0.0 AS f
FROM f
"""


def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank change-point on daily order revenue — the
    distribution-free complement of `changepoint`'s variance split;
    all U_t from one pair pass via the difference-array prefix sum."""
    from csp_gateway_spark.operators.analytics import pettitt_test

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "y", unix_key=True)
    out = pettitt_test(daily, "k", "y")
    return out.select(
        "n", "k_stat", "split_key",
        (F.round("p_approx", 6) + F.lit(0.0)).alias("p_approx"),
    )


ORACLE_PETTITT_TEST = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), pr AS (
  SELECT a.k AS ki, b.k AS kj,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS s
  FROM d a JOIN d b ON a.k < b.k
), del AS (
  SELECT k, CAST(SUM(dd) AS DECIMAL(18,0)) AS dd FROM (
    SELECT ki AS k, s AS dd FROM pr
    UNION ALL
    SELECT kj AS k, -s AS dd FROM pr
  ) GROUP BY k
), u AS (
  SELECT k, SUM(dd) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS u FROM del
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
), top AS (
  SELECT k, CAST(ABS(u) AS BIGINT) AS k_stat
  FROM u ORDER BY ABS(u) DESC, k ASC LIMIT 1
)
SELECT nn.n AS n, top.k_stat AS k_stat, top.k AS split_key,
       ROUND(LEAST(1.0, 2.0 * exp(-6.0 * CAST(top.k_stat AS DOUBLE) * CAST(top.k_stat AS DOUBLE)
             / (CAST(nn.n AS DOUBLE) * nn.n * nn.n + CAST(nn.n AS DOUBLE) * nn.n))), 6) + 0.0 AS p_approx
FROM top, nn
"""


ORACLE_MANN_KENDALL = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
  FROM d a JOIN d b ON a.k < b.k
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
), ties AS (
  SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0) AS DOUBLE) AS tt
  FROM (SELECT COUNT(*) AS t FROM d GROUP BY y)
), v AS (
  SELECT n,
         (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tt) / 18.0 AS var_s
  FROM nn, ties
)
SELECT v.n AS n, s.s_stat AS s_stat,
       ROUND(v.var_s, 4) + 0.0 AS var_s,
       ROUND(CASE WHEN v.var_s <= 0 THEN NULL
                  WHEN s.s_stat > 0 THEN (s.s_stat - 1.0) / sqrt(v.var_s)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1.0) / sqrt(v.var_s)
                  ELSE 0.0 END, 6) + 0.0 AS z
FROM s, v
"""


# ---------------------------------------------------------------------------
# ANALYTICS — Gini coefficient of customer revenue (exact integer form)
# ---------------------------------------------------------------------------


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality across customers via the rank formula
    G = 2·Σ(i·yᵢ)/(n·Σyᵢ) − (n+1)/n over ascending-sorted spend.
    Everything left of the final division is EXACT decimal (i·yᵢ
    products summed in decimal(38,2)), so the lone double division is
    engine-identical; the global rank comes from the range-bucketed
    two-phase `plans.scale.global_row_number` (broadcast cutoffs +
    partitioned per-bucket row_number + broadcast offsets), so even
    the collapsed customer dimension never funnels through one
    task."""
    from csp_gateway_spark.plans.scale import global_row_number

    spend = _cust_orders(spark, sf_dir).select(
        "o_custkey", F.col("_spend").alias("_y")
    )
    ranked = global_row_number(
        spend, "_y", ["o_custkey"], rn_col="_i", ascending=True,
        checkpoint=True,
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("_sy"),
        F.sum((F.col("_i").cast("decimal(19,0)") * F.col("_y")).cast("decimal(38,2)")).alias("_siy"),
    )
    return agg.select(
        "n",
        F.col("_sy").cast("double").alias("total_spend"),
        F.round(
            F.lit(2.0) * F.col("_siy").cast("double")
            / (F.col("n").cast("double") * F.col("_sy").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n").cast("double"),
            8,
        ).alias("gini"),
    )


ORACLE_GINI = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), ranked AS (
  SELECT y, row_number() OVER (ORDER BY y ASC, o_custkey ASC) AS i FROM spend
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(y) AS sy,
         SUM(CAST(CAST(i AS DECIMAL(19,0)) * y AS DECIMAL(38,2))) AS siy
  FROM ranked
)
SELECT n, CAST(sy AS DOUBLE) AS total_spend,
  round(2.0 * CAST(siy AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sy AS DOUBLE))
        - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 8) AS gini
FROM agg
"""


# ---------------------------------------------------------------------------
# WAVE 5 — time series monitoring, experimentation, privacy, graph labels
# ---------------------------------------------------------------------------


def q_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-smoothed monthly revenue level (α=0.3) — the
    one-step forecast.  Calendar-bounded series folded in one 1-row
    aggregate; exact-decimal sums feed an identical left-to-right
    double fold in both engines."""
    from csp_gateway_spark.operators.analytics import ewma_level

    monthly = _monthly_revenue(spark, sf_dir)
    out = ewma_level(
        monthly, F.date_trunc("month", F.col("_m")), "_rd"
    )
    return out.select(
        "n_buckets",
        F.date_format("last_bucket", "yyyy-MM").alias("last_month"),
        F.round("level", 6).alias("level"),
    )


ORACLE_EWMA_FORECAST = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS b,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
  strftime(max(b), '%Y-%m') AS last_month,
  round(list_reduce(list(CAST(y AS DOUBLE) ORDER BY b),
        (acc, v) -> acc * 0.7 + v * 0.3), 6) AS level
FROM m
"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized CUSUM of daily order revenue — full per-day
    series.  The running total is exact decimal through the two-phase
    distributed cumulative (global_row_number cum_value), so it equals
    DuckDB's flat SUM() OVER bit-for-bit; the standardization is one
    double expression over exact inputs."""
    from csp_gateway_spark.operators.analytics import cusum_scores

    daily = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = cusum_scores(daily, F.col("day"), "o_totalprice")
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "t",
        # + 0.0 folds IEEE negative zero into +0.0 (round(-1e-9, 6)
        # renders '-0.0' in Spark but '0.0' in the oracle)
        (F.round("cusum", 6) + F.lit(0.0)).alias("cusum"),
    ).orderBy("day")


ORACLE_CUSUM = """
WITH d AS (
  SELECT o_orderdate AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
         SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2))
             AS DECIMAL(38,4))) AS sxx
  FROM d
), r AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                      CURRENT ROW) AS cx
  FROM d
)
SELECT strftime(r.day, '%Y-%m-%d') AS day, r.t,
  round((CAST(r.cx AS DOUBLE) - CAST(r.t AS DOUBLE) *
         (CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE)))
        / sqrt(CAST(st.sxx AS DOUBLE) / CAST(st.n AS DOUBLE)
               - (CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE))
               * (CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE))), 6) + 0.0 AS cusum
FROM r, st ORDER BY day
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout over the events stream: units are
    users (arm = user_id % 2 — deterministic, engine-portable),
    outcome is total event value per user; Welch z for the mean
    difference.  Sums and squares exact decimal; mean/var/z identical
    double expressions both engines."""
    from csp_gateway_spark.operators.analytics import ab_test_report

    ev = _t(spark, sf_dir, "events")
    out = ab_test_report(ev, "user_id", "value", F.col("user_id") % 2)
    return out.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("diff", 6).alias("diff"),
        F.round("z", 6).alias("z"),
    )


ORACLE_AB_TEST = """
WITH per AS (
  SELECT user_id % 2 AS arm, user_id,
         SUM(CAST(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY 1, 2
), ag AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, SUM(v) AS sv,
         SUM(CAST(CAST(v AS DECIMAL(19,2)) * CAST(v AS DECIMAL(19,2))
             AS DECIMAL(38,4))) AS svv
  FROM per GROUP BY 1
)
SELECT a.n AS n_a, b.n AS n_b,
  round(CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS mean_a,
  round(CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS mean_b,
  round(CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)
        - CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS diff,
  round((CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)
         - CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE))
        / sqrt(((CAST(a.svv AS DOUBLE)
                 - CAST(a.n AS DOUBLE) * (CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE))
                   * (CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE)))
                / (CAST(a.n AS DOUBLE) - 1.0)) / CAST(a.n AS DOUBLE)
               + ((CAST(b.svv AS DOUBLE)
                   - CAST(b.n AS DOUBLE) * (CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE))
                     * (CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)))
                  / (CAST(b.n AS DOUBLE) - 1.0)) / CAST(b.n AS DOUBLE)), 6) AS z
FROM (SELECT * FROM ag WHERE arm = 0) a, (SELECT * FROM ag WHERE arm = 1) b
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) audit of the customer table under the
    quasi-identifier (nation, market segment, $1000 balance bucket) —
    two aggregates, pure integer outputs."""
    from csp_gateway_spark.operators.analytics import k_anonymity

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity(
        cust,
        [
            F.col("c_nationkey").alias("_q1"),
            F.col("c_mktsegment").alias("_q2"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("_q3"),
        ],
        k=5,
    )


ORACLE_K_ANONYMITY = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0) AS qb,
         CAST(count(*) AS BIGINT) AS sz
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
  CAST(min(sz) AS BIGINT) AS min_class_size,
  CAST(SUM(sz) AS BIGINT) AS n_rows
FROM g
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-label propagation (2 rounds) of document SOURCE over
    the shared-12-gram similarity graph — per-label document counts
    after smoothing.  Pure integer/string logic, engine-exact."""
    from csp_gateway_spark.operators.corpus import label_propagation
    from csp_gateway_spark.operators.dedup import shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    edges = _snp_edges(spark, sf_dir)
    seeds = docs.select(F.col("doc_id").alias("node"), F.col("source").alias("label"))
    out = label_propagation(edges, seeds, iters=_LP_ITERS)
    return (
        out.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("label")
    )


def _oracle_label_propagation() -> str:
    body = """
, e0 AS (
  SELECT id_a AS s, id_b AS t FROM cpairs
  UNION
  SELECT id_b AS s, id_a AS t FROM cpairs
), l0 AS (SELECT doc_id AS n, source AS l FROM documents)
"""
    for it in range(1, _LP_ITERS + 1):
        prev = f"l{it - 1}"
        body += f"""
, c{it} AS (
  SELECT e0.t, {prev}.l, count(*) AS c FROM e0 JOIN {prev} ON e0.s = {prev}.n
  GROUP BY 1, 2
), m{it} AS (SELECT t, max(c) AS mc FROM c{it} GROUP BY 1),
b{it} AS (
  SELECT c{it}.t, min(c{it}.l) AS bl
  FROM c{it} JOIN m{it} ON c{it}.t = m{it}.t AND c{it}.c = m{it}.mc
  GROUP BY 1
), l{it} AS (
  SELECT {prev}.n, COALESCE(b{it}.bl, {prev}.l) AS l
  FROM {prev} LEFT JOIN b{it} ON {prev}.n = b{it}.t
)
"""
    return (
        _snp_sql_prefix()
        + body
        + f"\nSELECT l AS label, CAST(count(*) AS BIGINT) AS n_docs"
        f" FROM l{_LP_ITERS} GROUP BY 1 ORDER BY 1\n"
    )


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated price quantiles by distributed rank-select
    (global_row_number + 2-row-per-probe broadcast join) — order
    statistics with NO single-reducer value map."""
    from csp_gateway_spark.operators.analytics import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    out = exact_quantiles(
        li,
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        [0.25, 0.5, 0.75, 0.9, 0.99],
    )
    return out.select("p", F.round("q", 6).alias("q")).orderBy("p")


ORACLE_EXACT_QUANTILES = """
SELECT p, round(q, 6) AS q FROM (
  SELECT 0.25 AS p, quantile_cont(l_extendedprice, 0.25) AS q FROM lineitem
  UNION ALL
  SELECT 0.5, quantile_cont(l_extendedprice, 0.5) FROM lineitem
  UNION ALL
  SELECT 0.75, quantile_cont(l_extendedprice, 0.75) FROM lineitem
  UNION ALL
  SELECT 0.9, quantile_cont(l_extendedprice, 0.9) FROM lineitem
  UNION ALL
  SELECT 0.99, quantile_cont(l_extendedprice, 0.99) FROM lineitem
) ORDER BY p
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles (lower definition): first
    value whose exact-decimal running weight reaches p·W — the
    two-phase distributed cumulative again, zero interpolation FP."""
    from csp_gateway_spark.operators.analytics import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_median(
        li,
        "l_extendedprice",
        "l_quantity",
        ["l_orderkey", "l_linenumber"],
        probs=(0.25, 0.5, 0.75),
    )
    return out.select("p", F.round("wq", 6).alias("wq")).orderBy("p")


ORACLE_WEIGHTED_MEDIAN = """
WITH r AS (
  SELECT l_extendedprice AS v,
         SUM(CAST(l_quantity AS DECIMAL(18,2)))
           OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM lineitem
), t AS (
  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wt
  FROM lineitem
)
SELECT pr.p,
  round(CAST(min(CASE WHEN CAST(r.cw AS DOUBLE) >= pr.p * t.wt
              THEN r.v END) AS DOUBLE), 6) AS wq
FROM r, t, (VALUES (0.25), (0.5), (0.75)) pr(p)
GROUP BY pr.p ORDER BY pr.p
"""


def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year multiplicative seasonality of order revenue —
    two grouped aggregates over the calendar-bounded monthly series."""
    from csp_gateway_spark.operators.analytics import seasonal_index

    monthly = _monthly_revenue(spark, sf_dir)
    out = seasonal_index(monthly, "_m", "_rd")
    return out.select(
        "moy",
        "n_months",
        F.round("avg_rev", 6).alias("avg_rev"),
        F.round("seasonal_index", 8).alias("seasonal_index"),
    ).orderBy("moy")


ORACLE_SEASONAL_INDEX = """
WITH m AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
), g AS (
  SELECT SUM(rev) AS gs, CAST(count(*) AS BIGINT) AS gn FROM m
), pm AS (
  SELECT CAST(mo AS INT) AS moy, CAST(count(*) AS BIGINT) AS n_months,
         SUM(rev) AS ms
  FROM m GROUP BY 1
)
SELECT moy, n_months,
  round(CAST(ms AS DOUBLE) / CAST(n_months AS DOUBLE), 6) AS avg_rev,
  round((CAST(ms AS DOUBLE) / CAST(n_months AS DOUBLE))
        / (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)), 8) AS seasonal_index
FROM pm, g ORDER BY moy
"""


def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue total sits more than 2 population σ from the
    mean — exact-decimal sums/squares, one identical double z."""
    from csp_gateway_spark.operators.analytics import anomaly_days

    orders = _t(spark, sf_dir, "orders")
    out = anomaly_days(orders, F.col("o_orderdate"), "o_totalprice", z_thresh=2.0)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "total",
        F.round("z", 6).alias("z"),
    ).orderBy("day")


ORACLE_ANOMALY_DAYS = """
WITH d AS (
  SELECT o_orderdate AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx,
         SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2))
             AS DECIMAL(38,4))) AS sxx
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(x AS DOUBLE) AS total,
  round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS z
FROM d, s
WHERE abs((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) > 2.0
ORDER BY day
"""


_CQ_CELLS = 16


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cohesion/separation report over the IVF assignment
    (seeded centroids) — member cosines round-6 and sum in decimal so
    the mean is accumulation-order-free."""
    from csp_gateway_spark.operators.similarity import (
        cluster_quality,
        sample_centroids,
    )

    emb = _ts(spark, sf_dir, "embeddings")
    cents = sample_centroids(emb, _CQ_CELLS, oracle_safe=True)
    out = cluster_quality(emb, cents)
    return out.select(
        "cell", "n", F.round("cohesion", 6).alias("cohesion"), "separation"
    ).orderBy("cell")


ORACLE_CLUSTER_QUALITY = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, e AS centroid FROM v
  ORDER BY ('0x' || substr(md5(vec_id || ':42'), 1, 15))::BIGINT, vec_id
  LIMIT {_CQ_CELLS}
),
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.centroid) DESC, c.cent_id ASC
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
per AS (
  SELECT a.cell, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(round(list_cosine_similarity(a.e, c.centroid), 6)
             AS DECIMAL(18,6))) AS sc
  FROM assigned a JOIN cents c ON a.cell = c.cent_id
  GROUP BY 1
),
sep AS (
  SELECT a.cent_id AS cell, max(round(list_cosine_similarity(a.centroid,
         b.centroid), 6)) AS separation
  FROM cents a JOIN cents b ON a.cent_id <> b.cent_id
  GROUP BY 1
)
SELECT per.cell, per.n,
  round(CAST(per.sc AS DOUBLE) / CAST(per.n AS DOUBLE), 6) AS cohesion,
  sep.separation
FROM per JOIN sep ON per.cell = sep.cell
ORDER BY per.cell
"""


_WF_GAP_NS = 3 * 24 * 3600 * 1_000_000_000  # 3 days between stages


def q_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-window funnel view→click→purchase: each stage must occur
    within 3 days of a feasible previous-stage event (chain-existence
    via per-user range semi-joins, not first-touch minima)."""
    from csp_gateway_spark.operators.analytics import windowed_funnel

    ev = _t(spark, sf_dir, "events")
    return windowed_funnel(
        ev, ["view", "click", "purchase"], F.lit(_WF_GAP_NS)
    ).orderBy("stage_idx")


ORACLE_WINDOWED_FUNNEL = f"""
WITH e AS (
  SELECT user_id AS u, event_type AS y, epoch_ns(ts) AS t FROM events
), s1 AS (
  SELECT u, t FROM e WHERE y = 'view'
), s2 AS (
  SELECT n.u, n.t FROM e n WHERE n.y = 'click' AND EXISTS (
    SELECT 1 FROM s1 p WHERE p.u = n.u
      AND p.t <= n.t AND p.t >= n.t - {_WF_GAP_NS}
  )
), s3 AS (
  SELECT n.u, n.t FROM e n WHERE n.y = 'purchase' AND EXISTS (
    SELECT 1 FROM s2 p WHERE p.u = n.u
      AND p.t <= n.t AND p.t >= n.t - {_WF_GAP_NS}
  )
)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'view' AS stage,
         CAST(count(DISTINCT u) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(count(DISTINCT u) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(DISTINCT u) AS BIGINT) FROM s3
) ORDER BY stage_idx
"""


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff → CDC batch (inverse of cdc_merge): derive the
    I/U/D rows transforming the customer snapshot into a
    deterministically mutated one — one co-partitioned full-outer
    join, null-safe payload compare."""
    from csp_gateway_spark.sources.versioned import diff_to_changes

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("bal")
    )
    k = F.col("c_custkey")
    nxt = (
        cust.filter(~((k % 7 == 3) & (k % 5 != 0)))
        .select(
            "c_custkey",
            F.when(k % 5 == 0, F.col("bal") + 10).otherwise(F.col("bal")).alias("bal"),
        )
        .unionByName(
            cust.filter(k < 3).select(
                (k + 500000).alias("c_custkey"),
                F.lit(1.25).cast(cust.schema["bal"].dataType).alias("bal"),
            )
        )
    )
    out = diff_to_changes(cust, nxt, ["c_custkey"])
    return out.select(
        "c_custkey", F.col("bal").cast("double").alias("bal"), "op"
    ).orderBy("c_custkey", "op")


ORACLE_CDC_DIFF = """
WITH cur AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer
), nxt AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN bal + 10 ELSE bal END AS bal
  FROM cur WHERE NOT (c_custkey % 7 = 3 AND c_custkey % 5 <> 0)
  UNION ALL
  SELECT c_custkey + 500000, CAST(1.25 AS DECIMAL(18,2)) FROM cur
  WHERE c_custkey < 3
), j AS (
  SELECT COALESCE(d.c_custkey, c.c_custkey) AS c_custkey, d.bal AS bal,
    CASE WHEN d.c_custkey IS NULL THEN 'D'
         WHEN c.c_custkey IS NULL THEN 'I'
         WHEN c.bal IS DISTINCT FROM d.bal THEN 'U' END AS op
  FROM cur c FULL OUTER JOIN nxt d ON c.c_custkey = d.c_custkey
)
SELECT c_custkey, CAST(bal AS DOUBLE) AS bal, op FROM j
WHERE op IS NOT NULL ORDER BY c_custkey, op
"""


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of nation × market segment — the χ² sum
    folds the (bounded) cell array in (a, b) order, engine-exact."""
    from csp_gateway_spark.operators.analytics import chi_square_report

    cust = _t(spark, sf_dir, "customer")
    out = chi_square_report(cust, "c_nationkey", "c_mktsegment")
    return out.select(F.round("chi2", 6).alias("chi2"), "dof", "n")


ORACLE_CHI_SQUARE = """
WITH cells AS (
  SELECT c_nationkey AS a, c_mktsegment AS b, CAST(count(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
), r AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
c AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
t AS (
  SELECT CAST(SUM(o) AS BIGINT) AS nn,
         CAST(count(DISTINCT a) AS BIGINT) AS rr,
         CAST(count(DISTINCT b) AS BIGINT) AS cc
  FROM cells
), terms AS (
  SELECT cells.a, cells.b,
    (CAST(o AS DOUBLE)
     - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))
    * (CAST(o AS DOUBLE)
       - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))
    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE)) AS trm
  FROM cells JOIN r USING (a) JOIN c USING (b), t
)
SELECT round(list_sum(list(trm ORDER BY a, b)), 6) AS chi2,
  CAST((t.rr - 1) * (t.cc - 1) AS BIGINT) AS dof, t.nn AS n
FROM terms, t GROUP BY 2, 3
"""


_BOUNCE_GAP_NS = 1_800_000_000_000  # 30 min


def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session bounce rate (30-min idle sessionization) — one
    user-keyed window pass + two bounded aggregates."""
    from csp_gateway_spark.operators.analytics import bounce_rate

    ev = _t(spark, sf_dir, "events")
    out = bounce_rate(ev, gap=_BOUNCE_GAP_NS)
    return out.select(
        "day_num",
        "sessions",
        "bounces",
        F.round("bounce_rate", 6).alias("bounce_rate"),
    ).orderBy("day_num")


ORACLE_BOUNCE_RATE = f"""
WITH e AS (
  SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS i FROM events
), f AS (
  SELECT u, t, i,
    CASE WHEN lag(t) OVER w IS NULL THEN 1
         WHEN t - lag(t) OVER w > {_BOUNCE_GAP_NS} THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY u ORDER BY t, i)
), s AS (
  SELECT u, t,
    SUM(nw) OVER (PARTITION BY u ORDER BY t, i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
), ses AS (
  SELECT u, sid, CAST(count(*) AS BIGINT) AS n, min(t) AS strt
  FROM s GROUP BY 1, 2
)
SELECT strt // 86400000000000 AS day_num,
  CAST(count(*) AS BIGINT) AS sessions,
  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
  round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
FROM ses GROUP BY 1 ORDER BY 1
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language chars/words/BPE-ish-pieces fertility ratios — the
    vocab-coverage signal tokenizer evals track."""
    from csp_gateway_spark.operators.text import tokenizer_fertility

    docs = _ts(spark, sf_dir, "documents")
    out = tokenizer_fertility(docs)
    return out.select(
        "lang",
        "n_docs",
        "chars",
        "words",
        "pieces",
        F.round("chars_per_word", 6).alias("chars_per_word"),
        F.round("pieces_per_word", 6).alias("pieces_per_word"),
    ).orderBy("lang")


_ORACLE_NORMTOKS = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)

ORACLE_TOKENIZER_FERTILITY = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(length({_SQL_NORM})) AS BIGINT) AS chars,
  CAST(SUM(len({_ORACLE_NORMTOKS})) AS BIGINT) AS words,
  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)))
    AS BIGINT) AS pieces,
  round(CAST(SUM(length({_SQL_NORM})) AS DOUBLE)
        / CAST(SUM(len({_ORACLE_NORMTOKS})) AS DOUBLE), 6) AS chars_per_word,
  round(CAST(SUM(len(regexp_extract_all(text,
          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))) AS DOUBLE)
        / CAST(SUM(len({_ORACLE_NORMTOKS})) AS DOUBLE), 6) AS pieces_per_word
FROM documents GROUP BY 1 ORDER BY 1
"""


_SO_K = 8


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-8-gram matrix with Jaccard — the
    data-mixing diagnostic for redundant sources."""
    from csp_gateway_spark.operators.dedup import source_overlap

    docs = _ts(spark, sf_dir, "documents")
    sh = _sh8(spark, sf_dir).select(F.col("source").alias("_src"), "_h")
    out = source_overlap(docs, k=_SO_K, sh=sh)
    return out.select(
        "src_a", "src_b", "shared", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("src_a", "src_b")


def _oracle_source_overlap() -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT source AS src, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (SELECT source, unnest({_sql_shingles(_SO_K)}) AS s FROM documents)
), sz AS (SELECT src, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
p AS (
  SELECT a.src AS sa, b.src AS sb, CAST(count(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2
)
SELECT sa AS src_a, sb AS src_b, shared,
  round(CAST(shared AS DOUBLE) / CAST(x.sz + y.sz - shared AS DOUBLE), 6)
    AS jaccard
FROM p JOIN sz x ON p.sa = x.src JOIN sz y ON p.sb = y.src
ORDER BY 1, 2
"""


_PR_THRESHOLDS = ["0.02", "0.05", "0.08", "0.12", "0.16"]


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall sweep: stopword share (3dp decimal buckets)
    predicting lang='en' — bounded count table + exact decimal
    threshold comparisons."""
    from decimal import Decimal

    from csp_gateway_spark.operators.classifier import pr_curve
    from csp_gateway_spark.operators.text import stopword_ratio

    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        stopword_ratio(F.col("text")).alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    thr = spark.createDataFrame(
        [(Decimal(t),) for t in _PR_THRESHOLDS], "t decimal(7,3)"
    )
    out = pr_curve(scored, "score", "label", thr)
    return out.select(
        "t",
        "tp",
        "fp",
        "fn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    ).orderBy("t")


def _oracle_pr_curve() -> str:
    vals = ", ".join(_PR_THRESHOLDS)
    return f"""
WITH s AS (
  SELECT CAST(round(CASE WHEN len({_SQL_TOKS}) > 0
    THEN len(list_filter({_SQL_TOKS}, x -> list_contains({_EN}, x)))
         / len({_SQL_TOKS})
    ELSE 0.0 END, 3) AS DECIMAL(7,3)) AS b,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), counts AS (
  SELECT b, y, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN n ELSE 0 END) AS BIGINT) AS pos
  FROM counts
), thr AS (
  SELECT CAST(unnest([{vals}]) AS DECIMAL(7,3)) AS t
), per AS (
  SELECT t,
    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN n ELSE 0 END), 0) AS BIGINT) AS tp,
    CAST(COALESCE(SUM(CASE WHEN y = 0 THEN n ELSE 0 END), 0) AS BIGINT) AS fp
  FROM thr LEFT JOIN counts ON b >= t GROUP BY 1
)
SELECT CAST(t AS DOUBLE) AS t, tp, fp, pos - tp AS fn,
  round(CASE WHEN tp + fp > 0
        THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6) AS precision,
  round(CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE), 6) AS recall
FROM per, tot ORDER BY t
"""


def q_grouped_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — group-
    partitioned exact-decimal cumulative, no global funnel."""
    from csp_gateway_spark.operators.analytics import grouped_weighted_median

    li = _t(spark, sf_dir, "lineitem")
    out = grouped_weighted_median(
        li,
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        ["l_orderkey", "l_linenumber"],
        p=0.5,
    )
    return out.select(
        "l_returnflag", "n", "total_w", F.round("wq", 6).alias("wq")
    ).orderBy("l_returnflag")


ORACLE_GROUPED_WEIGHTED_MEDIAN = """
WITH r AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
    SUM(CAST(l_quantity AS DECIMAL(18,2)))
      OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM lineitem
), t AS (
  SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wt
  FROM lineitem GROUP BY 1
)
SELECT r.g AS l_returnflag, t.n, CAST(t.wt AS DOUBLE) AS total_w,
  round(CAST(min(r.v) AS DOUBLE), 6) AS wq
FROM r JOIN t ON r.g = t.g
WHERE CAST(r.cw AS DOUBLE) >= 0.5 * CAST(t.wt AS DOUBLE)
GROUP BY 1, 2, 3 ORDER BY 1
"""


_PSI_W = 50.0
_PSI_B = 20


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of token-length distributions,
    src1 vs src2 — capped fixed-width buckets, add-one smoothing,
    bucket-ordered fold."""
    from csp_gateway_spark.operators.analytics import psi_drift
    from csp_gateway_spark.operators.text import norm_tokens

    docs = _ts(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") == "src1")
    b = docs.filter(F.col("source") == "src2")
    metric = F.size(norm_tokens(F.col("text")))
    out = psi_drift(a, b, metric, _PSI_W, _PSI_B)
    return out.select("n_a", "n_b", F.round("psi", 6).alias("psi"))


def _oracle_psi_drift() -> str:
    ntoks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    bkt = f"least({_PSI_B - 1}, CAST(floor(len({ntoks}) / {_PSI_W}) AS INT))"
    return f"""
WITH ha AS (
  SELECT {bkt} AS bkt, CAST(count(*) AS BIGINT) AS na
  FROM documents WHERE source = 'src1' GROUP BY 1
), hb AS (
  SELECT {bkt} AS bkt, CAST(count(*) AS BIGINT) AS nb
  FROM documents WHERE source = 'src2' GROUP BY 1
), j AS (
  SELECT COALESCE(ha.bkt, hb.bkt) AS bkt,
         COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
  FROM ha FULL OUTER JOIN hb ON ha.bkt = hb.bkt
), t AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM j
), terms AS (
  SELECT bkt,
    (CAST(na + 1 AS DOUBLE) / CAST(ta + {_PSI_B} AS DOUBLE)
     - CAST(nb + 1 AS DOUBLE) / CAST(tb + {_PSI_B} AS DOUBLE))
    * ln((CAST(na + 1 AS DOUBLE) / CAST(ta + {_PSI_B} AS DOUBLE))
         / (CAST(nb + 1 AS DOUBLE) / CAST(tb + {_PSI_B} AS DOUBLE))) AS trm
  FROM j, t
)
SELECT t.ta AS n_a, t.tb AS n_b,
  round(list_sum(list(trm ORDER BY bkt)), 6) AS psi
FROM terms, t GROUP BY 1, 2
"""


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation of o_totalprice against the
    exact-decimal lineitem recomputation — honest report that the
    synthetic generator does NOT satisfy the TPC-H identity."""
    from csp_gateway_spark.operators.analytics import order_reconciliation

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    out = order_reconciliation(orders, li, tol=1.0)
    return out.select(
        "n_orders",
        "n_no_lines",
        "n_mismatch",
        F.round("max_abs_diff", 2).alias("max_abs_diff"),
        "sum_header",
        "sum_detail",
    )


ORACLE_ORDER_RECONCILIATION = """
WITH l AS (
  SELECT l_orderkey,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        * (1 - CAST(l_discount AS DECIMAL(4,2)))
        * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS calc
  FROM lineitem GROUP BY 1
), j AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS hdr, calc
  FROM orders LEFT JOIN l ON o_orderkey = l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
  CAST(SUM(CASE WHEN calc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
  CAST(SUM(CASE WHEN calc IS NOT NULL
       AND abs(CAST(hdr AS DOUBLE) - CAST(calc AS DOUBLE)) > 1.0
       THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
  round(max(abs(CAST(hdr AS DOUBLE) - CAST(calc AS DOUBLE))), 2)
    AS max_abs_diff,
  CAST(SUM(hdr) AS DOUBLE) AS sum_header,
  CAST(SUM(calc) AS DOUBLE) AS sum_detail
FROM j
"""


def q_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance share through region → nation: fact scanned
    once, parent/grand totals re-derived from the leaf aggregate."""
    from csp_gateway_spark.operators.analytics import hierarchy_share

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    out = hierarchy_share(
        cust,
        region,
        nation,
        fact_key="c_nationkey",
        l2_key="n_nationkey",
        l2_parent="n_regionkey",
        l1_key="r_regionkey",
        l1_name="r_name",
        l2_name="n_name",
        value_col="c_acctbal",
    )
    return out.select(
        F.col("l1").alias("region"),
        F.col("l2").alias("nation"),
        "value",
        F.round("share_of_parent", 8).alias("share_of_parent"),
        F.round("share_of_total", 8).alias("share_of_total"),
    ).orderBy("region", "nation")


ORACLE_HIERARCHY_SHARE = """
WITH leaf AS (
  SELECT r_name AS region, n_name AS nation,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS v
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
), p AS (
  SELECT region, SUM(v) AS pv FROM leaf GROUP BY 1
), t AS (SELECT SUM(v) AS tv FROM leaf)
SELECT leaf.region, leaf.nation, CAST(leaf.v AS DOUBLE) AS value,
  round(CAST(leaf.v AS DOUBLE) / CAST(p.pv AS DOUBLE), 8) AS share_of_parent,
  round(CAST(leaf.v AS DOUBLE) / CAST(t.tv AS DOUBLE), 8) AS share_of_total
FROM leaf JOIN p ON leaf.region = p.region, t
ORDER BY 1, 2
"""


def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram over the REAL shared-12-gram
    graph: connected components (pointer-jumping) + singleton
    fill-in, reduced to (cluster_size, n_clusters).  The oracle
    recomputes components with a recursive reachable-min CTE — the
    iterative Spark algorithm is value-checked against an
    independent fixpoint formulation, not a synthetic closed form."""
    from csp_gateway_spark.operators.corpus import connected_components
    from csp_gateway_spark.operators.dedup import shared_ngram_pairs

    docs = _ts(spark, sf_dir, "documents")
    edges = _snp_edges(spark, sf_dir)
    cc = connected_components(edges)
    labeled = (
        docs.select(F.col("doc_id").alias("node"))
        .join(cc, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _oracle_dup_cluster_stats() -> str:
    return (
        _snp_sql_prefix()
        + """
, e0 AS (
  SELECT id_a AS s, id_b AS t FROM cpairs
  UNION
  SELECT id_b AS s, id_a AS t FROM cpairs
), nodes AS (SELECT doc_id AS n FROM documents),
reach AS (
  -- recursive reachable-min: every (node, reachable node) pair;
  -- components here are tiny near-dup clusters, so the closure is
  -- small even though it is quadratic per cluster
  WITH RECURSIVE r(n, m) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT r.n, e0.t FROM r JOIN e0 ON r.m = e0.s
  )
  SELECT n, min(m) AS comp FROM r GROUP BY 1
), sizes AS (
  SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size FROM reach GROUP BY 1
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1 ORDER BY 1
"""
    )


def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by absolute revenue change 1997→1998 — two
    conditional decimal sums off one scan, TakeOrdered pick."""
    orders = _t(spark, sf_dir, "orders")
    y = F.year(F.col("o_orderdate"))
    amt = F.col("o_totalprice").cast("decimal(18,2)")
    per = orders.filter(y.isin(1997, 1998)).groupBy("o_custkey").agg(
        F.sum(F.when(y == 1997, amt)).alias("_a"),
        F.sum(F.when(y == 1998, amt)).alias("_b"),
    )
    out = per.select(
        "o_custkey",
        F.coalesce(F.col("_a"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("rev_1997"),
        F.coalesce(F.col("_b"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("rev_1998"),
    ).withColumn("delta", F.col("rev_1998") - F.col("rev_1997"))
    return out.orderBy(F.abs(F.col("delta")).desc(), F.asc("o_custkey")).limit(10)


ORACLE_TOP_MOVERS = """
WITH per AS (
  SELECT o_custkey,
    SUM(CASE WHEN year(o_orderdate) = 1997
        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS a,
    SUM(CASE WHEN year(o_orderdate) = 1998
        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS b
  FROM orders WHERE year(o_orderdate) IN (1997, 1998) GROUP BY 1
), o AS (
  SELECT o_custkey,
    CAST(COALESCE(a, 0) AS DOUBLE) AS rev_1997,
    CAST(COALESCE(b, 0) AS DOUBLE) AS rev_1998
  FROM per
)
SELECT o_custkey, rev_1997, rev_1998, rev_1998 - rev_1997 AS delta
FROM o ORDER BY abs(rev_1998 - rev_1997) DESC, o_custkey ASC LIMIT 10
"""


def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded MinHash-LSH candidate generator
    vs exact-Jaccard ground truth (shared-12-gram blocking verified at
    ≥0.5) — the (num_hashes, bands) tuning report."""
    from csp_gateway_spark.operators.dedup import lsh_recall_eval

    docs = _ts(spark, sf_dir, "documents")
    out = lsh_recall_eval(
        docs,
        truth_threshold=0.5,
        num_hashes=_MH_PAIR_HASHES,
        bands=_MH_PAIR_BANDS,
        oracle_safe=True,
        blocking_pairs=_snp_edges(spark, sf_dir),
        candidates=_mh_candidates(spark, sf_dir),
        scored_pairs=_snp_scored(spark, sf_dir),
    )
    return out.select(
        "n_truth",
        "n_candidates",
        "n_tp",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    )


def _oracle_lsh_eval() -> str:
    return (
        _snp_sql_prefix()
        + f"""
, sh3 AS (
  SELECT doc_id, {_sql_shingles()} AS s FROM documents
), truth AS (
  SELECT id_a, id_b
  FROM cpairs JOIN sh3 sa ON sa.doc_id = id_a JOIN sh3 sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.s, sb.s))
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
), sig AS (
  SELECT doc_id, list_transform(range(0, {_MH_PAIR_HASHES}), seed ->
    list_min(list_transform(s, sx -> {_sql_affine_minhash(_MH_PAIR_HASHES, elem="sx")}))) AS sig
  FROM sh3
), banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band*{_MH_PAIR_ROWS}+1 : band*{_MH_PAIR_ROWS}+{_MH_PAIR_ROWS}], '|') AS bh
  FROM sig, (SELECT unnest(range(0, {_MH_PAIR_BANDS})) AS band) bs
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), tp AS (
  SELECT c.id_a FROM cand c JOIN truth t
    ON c.id_a = t.id_a AND c.id_b = t.id_b
), nums AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp
)
SELECT n_truth, n_candidates, n_tp,
  round(CAST(n_tp AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6) AS precision,
  round(CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall
FROM nums
"""
    )


# ---------------------------------------------------------------------------
# WAVE 15 (round 7) — survival analysis + correlation profiling
# ---------------------------------------------------------------------------


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier order→ship latency curve: duration = days from
    order date to line ship date; open linestatus 'O' lines are
    right-censored.  Every prefix product folds the duration-ordered
    step array, so the survival curve is engine-exact.  The step
    table is the checkpointed `_survival_steps` shared with
    `nelson_aalen` / `rmst`."""
    from csp_gateway_spark.operators.analytics import kaplan_meier_from_steps

    out = kaplan_meier_from_steps(_survival_steps(spark, sf_dir))
    return out.select(
        "t",
        "n_risk",
        "d",
        (F.round("survival", 6) + F.lit(0.0)).alias("survival"),
    ).orderBy("t")


ORACLE_KAPLAN_MEIER = """
WITH base AS (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS t,
         CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), steps AS (
  SELECT t, CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1
), risk AS (
  SELECT t, d,
    CAST(SUM(n) OVER () - COALESCE(SUM(n) OVER (
      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM steps
), f AS (
  SELECT t, n_risk, d,
         1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM risk
), packed AS (
  SELECT list(struct_pack(t := t, n_risk := n_risk, d := d, f := factor)
              ORDER BY t) AS z
  FROM f
), ex AS (
  SELECT unnest(z) AS s, generate_subscripts(z, 1) AS i, z FROM packed
)
SELECT s.t AS t, s.n_risk AS n_risk, s.d AS d,
  round(list_reduce(list_transform(z[1:i], x -> x.f), (a, b) -> a * b), 6)
    + 0.0 AS survival
FROM ex WHERE s.d > 0 ORDER BY t
"""


_CORR_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the four lineitem fact columns
    in ONE scan — exact-decimal Σx/Σx²/Σxy, double closed form."""
    from csp_gateway_spark.operators.analytics import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    out = correlation_matrix(
        li, list(_CORR_COLS), scale=2, sums=_li_moments(spark, sf_dir)
    )
    return out.select(
        "var_a",
        "var_b",
        (F.round("corr", 6) + F.lit(0.0)).alias("corr"),
    ).orderBy("var_a", "var_b")


def _oracle_correlation_matrix() -> str:
    cols = _CORR_COLS
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for c in cols:
        aggs.append(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{c}")
        aggs.append(
            f"SUM(CAST(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))"
            f" AS DECIMAL(38,4))) AS ss_{c}"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(
            f"SUM(CAST(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2))"
            f" AS DECIMAL(38,4))) AS sp_{a}_{b}"
        )
    def corr(a: str, b: str) -> str:
        # guard the product of variances like the Spark operator's
        # F.when(va*vb > 0, ...) — a zero-variance column yields NULL
        # on both engines instead of DuckDB inf/NaN
        va = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        )
        vb = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        return (
            f"CASE WHEN {va} * {vb} > 0 THEN"
            f" (CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt({va} * {vb}) END"
        )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS var_a, '{b}' AS var_b,"
        f" round({corr(a, b)}, 6) + 0.0 AS corr FROM s"
        for a, b in pairs
    )
    return (
        "WITH s AS (SELECT " + ", ".join(aggs) + " FROM lineitem)\n"
        + arms
        + "\nORDER BY var_a, var_b"
    )


def q_join_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stream-stream interval join on the oracle gate:
    click and purchase events replay as the two sides of one file
    stream over a TIME-ORDERED 6-file split (range-bucketed on ts, written in
    order, `maxFilesPerTrigger=1` → monotone watermark), inner-joined
    on user within [click, click + 1 h] under REAL 2-hour watermarks
    on both sides (bounded join state — the production shape, unlike
    an unbounded no-watermark join), each batch's pairs landed in the
    batch's own directory; the landed attribution pairs must hash-equal the batch self-join
    oracle.  Timestamps run at micros (ns div 1000 — mirrored by the
    oracle's `// 1000`)."""
    ev = _click_purchase_events(spark, sf_dir)
    return _stream_replay(
        spark,
        "jstream",
        ev,
        _time_split(ev, 6),
        lambda stream: _interval_join(stream, "inner"),
        _interval_join_rows,
    ).orderBy("click_id", "purchase_id")


ORACLE_JOIN_STREAM_REPLAY = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // 1000 AS t_us
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       CAST(p.t_us // 1000000 - c.t_us // 1000000 AS BIGINT) AS lag_sec,
       round(p.value, 6) + 0.0 AS purchase_value
FROM e c JOIN e p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.t_us >= c.t_us AND p.t_us <= c.t_us + 3600000000
ORDER BY click_id, purchase_id
"""


def q_outer_join_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TENTH streaming gate shape: stream-stream LEFT OUTER interval
    join with watermark NULL-emission — the Structured Streaming
    semantics corner the inner gate (`join_stream_replay`) cannot
    exercise.  An unmatched click may only emit its NULL-padded row
    once the watermark has passed the END of its join window (before
    that, a matching purchase could still arrive), so correctness
    here proves the engine holds per-click state exactly until
    `click_ts + 1 h` falls behind the watermark and then flushes —
    not before (phantom NULLs) and not never (withheld tail).  To
    close the tail, the replay appends a FINAL sentinel file (one
    future click + one future purchase at max_ts + 4 h, ids = −1 —
    each side's watermark column only sees its own event type, so
    BOTH sides need a sentinel) that drives every real click's window
    behind the watermark; the final no-data micro-batch flushes the
    remaining NULL rows, the sentinels themselves are filtered from
    the landed table, and the result must hash-equal the batch LEFT
    JOIN oracle.  Reference parity: the reference gateway's channel
    graph ticks every channel independently — a click with no
    purchase still surfaces on its channel (csp_gateway/server/
    gateway/csp/channels.py ts wiring); this gate is that
    keep-the-unmatched-side semantics replayed event-time-complete."""
    ev = _click_purchase_events(spark, sf_dir)
    # sentinel file LAST in modification order: one click + one
    # purchase 4 h past the real maximum, so after the final trigger
    # both sides' watermarks (2 h delay) sit 2 h past max_ts — beyond
    # every real click's window end (max_ts + 1 h) — and the no-data
    # flush batch emits every remaining unmatched click.
    return _stream_replay(
        spark,
        "ojstream",
        ev,
        _time_split(ev, 6, sentinels_ns=(4 * 3600 * 1_000_000_000,)),
        lambda stream: _interval_join(stream, "left_outer"),
        _interval_join_rows,
    ).orderBy("click_id", "purchase_id")


ORACLE_OUTER_JOIN_STREAM_REPLAY = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // 1000 AS t_us
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       CAST(p.t_us // 1000000 - c.t_us // 1000000 AS BIGINT) AS lag_sec,
       round(p.value, 6) + 0.0 AS purchase_value
FROM (SELECT * FROM e WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.t_us >= c.t_us AND p.t_us <= c.t_us + 3600000000
ORDER BY click_id, purchase_id
"""


def q_join_window_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ELEVENTH streaming gate shape: CHAINED stateful operators —
    a stream-stream interval join feeding a tumbling-window event-time
    aggregation inside ONE streaming query (Spark's
    multiple-stateful-operator pipeline,
    `spark.sql.streaming.statefulOperator.allowMultipleStatefulOperators`).
    This is the semantics corner none of the other ten gates reach:
    the JOIN's state must emit matches whose click-side event time
    then drives a SECOND state store's window lifecycle, with ONE
    global watermark closing both — a window may only finalize after
    the watermark passes its end AND every join match for it has been
    emitted.  The replay appends a FINAL sentinel file (one click +
    one purchase at max_ts + 3 days, ids = −1; the sentinel pair
    joins only itself and is filtered) so the last real day-window
    falls behind the watermark and the no-data flush batch emits it;
    the landed table must hash-equal the batch join+GROUP BY oracle.
    Reference parity: the reference channel graph freely chains
    stateful nodes (csp_gateway/server/gateway/csp/channels.py) —
    this gate is that composition replayed event-time-complete."""
    ev = _click_purchase_events(spark, sf_dir)
    # 3 time-ordered buckets (not 6): per trigger this replay pays
    # FIVE state-store commits per partition (4 join stores + 1 agg
    # store), so batches are the dominant cost; three real triggers +
    # three sentinel batches exercise the same multi-batch watermark
    # progression the gate exists to prove.
    # THREE sentinel files, 3/6/9 days past max: the last real
    # click's day-window end can sit up to 24 h after max_ts, so the
    # watermark must clear it (sentinel − 2 h delay ≥ window end).
    # Measured behavior of the chained-stateful availableNow replay
    # (per-batch progress instrumented): (a) NO no-data flush batch
    # runs after the last file — unlike the single-operator gates —
    # and (b) each side's watermark node adopts a batch's max event
    # time only ONE BATCH LATER, with the global watermark the MIN
    # across nodes (observed: the batch after the first sentinel
    # still carried real_max − 2 h).  So the flush needs the
    # sentinel-derived watermark to become EFFECTIVE in a real batch:
    # sentinel₁ advances the nodes during sentinel₂'s batch, and
    # sentinel₃'s batch finally EXECUTES with watermark ≥ sentinel₁
    # − 2 h > every real window end.  Sentinel self-pairs land in
    # their own far-future windows and are filtered after landing.
    _DAY_NS = 24 * 3600 * 1_000_000_000

    def build(stream):
        # NO sentinel predicate inside the join: a deterministic
        # single-sided filter is pushed BELOW the EventTimeWatermark
        # node, so the sentinel rows would never reach the watermark
        # collector and the windows would never close (measured:
        # watermark frozen at real_max − 2 h with the predicate in
        # place).  Sentinel self-pairs flow through and are dropped
        # after landing, the outer gate's idiom.
        return (
            _interval_join(stream, "inner")
            .groupBy(
                F.window("_cts", "1 day").alias("_w"),
                F.col("_cu").alias("user_id"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum("_pv").alias("_sv"),
            )
        )

    def finish(t):
        return t.filter(F.col("user_id") >= 0).select(
            F.col("_w.start").cast("long").alias("window_start"),
            "user_id",
            "n_pairs",
            (F.round("_sv", 6) + F.lit(0.0)).alias("purchase_sum"),
        )

    return _stream_replay(
        spark,
        "jwstream",
        ev,
        _time_split(ev, 3, sentinels_ns=(3 * _DAY_NS, 6 * _DAY_NS, 9 * _DAY_NS)),
        build,
        finish,
    ).orderBy("window_start", "user_id")


ORACLE_JOIN_WINDOW_STREAM_REPLAY = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // 1000 AS t_us
  FROM events WHERE event_type IN ('click', 'purchase')
), j AS (
  SELECT c.t_us AS c_us, c.user_id AS user_id, p.value AS pv
  FROM (SELECT * FROM e WHERE event_type = 'click') c
  JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
    ON c.user_id = p.user_id
   AND p.t_us >= c.t_us AND p.t_us <= c.t_us + 3600000000
)
SELECT CAST((c_us // 86400000000) * 86400 AS BIGINT) AS window_start,
       user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(SUM(pv), 6) + 0.0 AS purchase_sum
FROM j GROUP BY 1, 2
ORDER BY window_start, user_id
"""


# ---------------------------------------------------------------------------
# WAVE 16 (round 8) — statistical testing + time-series association
# ---------------------------------------------------------------------------


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between returned ('R') and acknowledged ('A') line
    prices — one conditional-sum scan, closed-form doubles over exact
    decimal moments."""
    from csp_gateway_spark.operators.analytics import welch_ttest

    li = _t(spark, sf_dir, "lineitem")
    out = welch_ttest(li, "l_returnflag", "l_extendedprice", "R", "A")
    return out.select(
        "n_a",
        "n_b",
        (F.round("mean_a", 6) + F.lit(0.0)).alias("mean_a"),
        (F.round("mean_b", 6) + F.lit(0.0)).alias("mean_b"),
        (F.round("t_stat", 6) + F.lit(0.0)).alias("t_stat"),
        (F.round("df_welch", 4) + F.lit(0.0)).alias("df_welch"),
    )


def _welch_sql_side(flag: str, tag: str) -> str:
    q = "CAST(l_extendedprice AS DECIMAL(18,2))"
    return (
        f"CAST(SUM(CASE WHEN l_returnflag = '{flag}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{tag}, "
        f"SUM(CASE WHEN l_returnflag = '{flag}' THEN {q} END) AS s_{tag}, "
        f"SUM(CASE WHEN l_returnflag = '{flag}' THEN CAST({q} * {q} AS DECIMAL(38,4)) END) AS ss_{tag}"
    )


def _oracle_welch_ttest() -> str:
    # the t/df expressions mirror the Spark operator's shape exactly:
    # mean = s/n, var = (n·ss − s²)/(n·(n−1)), se = var/n,
    # t = (ma − mb)/sqrt(sea+seb), df = (se2)²/(sea²/(na−1)+seb²/(nb−1))
    def d(x: str) -> str:
        return f"CAST({x} AS DOUBLE)"

    ma, mb = f"({d('s_a')} / {d('n_a')})", f"({d('s_b')} / {d('n_b')})"
    va = f"(({d('n_a')} * {d('ss_a')} - {d('s_a')} * {d('s_a')}) / ({d('n_a')} * ({d('n_a')} - 1.0)))"
    vb = f"(({d('n_b')} * {d('ss_b')} - {d('s_b')} * {d('s_b')}) / ({d('n_b')} * ({d('n_b')} - 1.0)))"
    sea, seb = f"({va} / {d('n_a')})", f"({vb} / {d('n_b')})"
    se2 = f"({sea} + {seb})"
    t = f"CASE WHEN {se2} > 0 THEN ({ma} - {mb}) / sqrt({se2}) END"
    dfw = (
        f"CASE WHEN {se2} > 0 THEN ({se2} * {se2})"
        f" / ({sea} * {sea} / ({d('n_a')} - 1.0) + {seb} * {seb} / ({d('n_b')} - 1.0)) END"
    )
    return (
        "WITH s AS (SELECT "
        + _welch_sql_side("R", "a")
        + ", "
        + _welch_sql_side("A", "b")
        + " FROM lineitem)\n"
        + f"SELECT n_a, n_b, round({ma}, 6) + 0.0 AS mean_a,"
        f" round({mb}, 6) + 0.0 AS mean_b, round({t}, 6) + 0.0 AS t_stat,"
        f" round({dfw}, 4) + 0.0 AS df_welch FROM s"
    )


_LAG_CORR_EPOCH = "1992-01-01"
_LAG_CORR_MAX = 7


def q_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day autocorrelation of total order revenue at lags
    1..7 — lag-exploded equi-join on the integer day key (gap-aware),
    exact-decimal moment sums per lag, closed-form Pearson."""
    from csp_gateway_spark.operators.analytics import lag_correlations

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = lag_correlations(daily, "day_num", "rev", max_lag=_LAG_CORR_MAX)
    return out.select(
        "lag",
        "n_pairs",
        (F.round("corr", 6) + F.lit(0.0)).alias("corr"),
    ).orderBy("lag")


ORACLE_LAG_CORR = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         -- (19,2): int128 storage, so the v*v products below run on
         -- DuckDB's int128 path — an (18,2)x(18,2) square would
         -- multiply in int64 and overflow once a daily total passes
         -- ~$3e7 (the round-5 cusum/anomaly_days lesson).  Values are
         -- identical either way, so Spark's (18,2) side still matches.
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS v
  FROM orders GROUP BY 1
), p AS (
  SELECT l.lag, a.v AS va, b.v AS vb
  FROM d a
  CROSS JOIN (SELECT unnest(range(1, {_LAG_CORR_MAX + 1})) AS lag) l
  JOIN d b ON b.k = a.k + l.lag
), s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         SUM(va) AS sa, SUM(vb) AS sb,
         SUM(CAST(va * va AS DECIMAL(38,4))) AS saa,
         SUM(CAST(vb * vb AS DECIMAL(38,4))) AS sbb,
         SUM(CAST(va * vb AS DECIMAL(38,4))) AS sab
  FROM p GROUP BY 1
)
SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
       THEN round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) + 0.0
  END AS corr
FROM s ORDER BY lag
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of order→ship latency (open 'O'
    lines right-censored) — the additive twin of `kaplan_meier`, same
    duration-ordered packed-array fold with a sum instead of a
    product."""
    from csp_gateway_spark.operators.analytics import nelson_aalen_from_steps

    out = nelson_aalen_from_steps(_survival_steps(spark, sf_dir))
    return out.select(
        "t",
        "n_risk",
        "d",
        (F.round("cum_hazard", 6) + F.lit(0.0)).alias("cum_hazard"),
    ).orderBy("t")


ORACLE_NELSON_AALEN = """
WITH base AS (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS t,
         CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), steps AS (
  SELECT t, CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1
), risk AS (
  SELECT t, d,
    CAST(SUM(n) OVER () - COALESCE(SUM(n) OVER (
      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM steps
), f AS (
  SELECT t, n_risk, d,
         CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h
  FROM risk
), packed AS (
  SELECT list(struct_pack(t := t, n_risk := n_risk, d := d, h := h)
              ORDER BY t) AS z
  FROM f
), ex AS (
  SELECT unnest(z) AS s, generate_subscripts(z, 1) AS i, z FROM packed
)
SELECT s.t AS t, s.n_risk AS n_risk, s.d AS d,
  round(list_reduce(list_transform(z[1:i], x -> x.h), (a, b) -> a + b), 6)
    + 0.0 AS cum_hazard
FROM ex WHERE s.d > 0 ORDER BY t
"""


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest users by Fano factor of daily event counts —
    two integer grouped aggregates + TakeOrdered, engine-exact
    moments."""
    from csp_gateway_spark.operators.analytics import burstiness

    ev = _t(spark, sf_dir, "events")
    out = burstiness(ev, "user_id", "ts", top_k=20)
    return out.select(
        "user_id",
        "days_active",
        "total_events",
        (F.round("fano", 6) + F.lit(0.0)).alias("fano"),
    )


ORACLE_BURSTINESS = """
WITH daily AS (
  SELECT user_id AS u, epoch_ns(ts) // 86400000000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), per AS (
  SELECT u, CAST(count(*) AS BIGINT) AS nd,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY 1 HAVING count(*) >= 2
), scored AS (
  SELECT u, nd, s,
    ((CAST(nd AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
     / (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1.0)))
    / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) AS fano
  FROM per
)
SELECT u AS user_id, nd AS days_active, s AS total_events,
       round(fano, 6) + 0.0 AS fano
FROM scored ORDER BY fano DESC, u ASC LIMIT 20
"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between returned ('R') and
    acknowledged ('A') line prices over the shared ranked price cells
    (`_ra_price_cells`) — no unpartitioned window, no binning."""
    from csp_gateway_spark.operators.analytics import ks_test

    li = _t(spark, sf_dir, "lineitem")
    cells, n_cells, _ = _ra_price_cells(spark, sf_dir)
    out = ks_test(
        li, "l_returnflag", "l_extendedprice", "R", "A",
        cells=cells, cells_count=n_cells,
    )
    return out.select(
        "n_a",
        "n_b",
        (F.round("d_stat", 6) + F.lit(0.0)).alias("d_stat"),
        "at_value",
    )


ORACLE_KS_TEST = """
WITH pv AS (
  SELECT l_extendedprice AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), t AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv
), c AS (
  SELECT v,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM pv
), s AS (
  SELECT v, na, nb,
    abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
      - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE)) AS d
  FROM c CROSS JOIN t
)
SELECT na AS n_a, nb AS n_b, round(d, 6) + 0.0 AS d_stat,
       CAST(v AS DOUBLE) AS at_value
FROM s ORDER BY d DESC, v ASC LIMIT 1
"""


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Holt linear-trend forecast of daily order revenue — the
    level/trend recursion folds the day-ordered packed series with
    pinned FP order; the oracle steps the identical expressions in a
    recursive CTE."""
    from csp_gateway_spark.operators.analytics import holt_forecast

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "day_num", "rev", double_val=True)
    out = holt_forecast(daily, "day_num", "rev", alpha=0.5, beta=0.25, horizon=7)
    return out.select(
        "h", (F.round("forecast", 4) + F.lit(0.0)).alias("forecast")
    ).orderBy("h")


ORACLE_HOLT_FORECAST = f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders GROUP BY 1
), o AS (
  SELECT v, row_number() OVER (ORDER BY k) AS rn FROM d
), r AS (
  SELECT 1 AS i,
         (SELECT v FROM o WHERE rn = 1) AS l,
         (SELECT v FROM o WHERE rn = 2) - (SELECT v FROM o WHERE rn = 1) AS b
  UNION ALL
  SELECT r.i + 1,
         0.5 * o.v + 0.5 * (r.l + r.b),
         0.25 * ((0.5 * o.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
  FROM r JOIN o ON o.rn = r.i + 1
), fin AS (
  SELECT l, b FROM r WHERE i = (SELECT max(rn) FROM o)
)
SELECT CAST(h AS INTEGER) AS h,
       round(l + CAST(h AS DOUBLE) * b, 4) + 0.0 AS forecast
FROM fin CROSS JOIN (SELECT unnest(range(1, 8)) AS h)
ORDER BY h
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (midrank ties, tie-corrected z) between returned
    and acknowledged line prices — the non-parametric twin of
    `welch_ttest` on the same ranked price cells as `ks_test`."""
    from csp_gateway_spark.operators.analytics import mann_whitney_u

    li = _t(spark, sf_dir, "lineitem")
    cells, n_cells, _ = _ra_price_cells(spark, sf_dir)
    out = mann_whitney_u(
        li, "l_returnflag", "l_extendedprice", "R", "A",
        cells=cells, cells_count=n_cells,
    )
    return out.select(
        "n_a",
        "n_b",
        (F.round("u_stat", 2) + F.lit(0.0)).alias("u_stat"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_MANN_WHITNEY = """
WITH pv AS (
  SELECT l_extendedprice AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), c AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM pv
), s AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
    SUM(CAST(CAST(ca AS DECIMAL(16,0))
        * CAST(2 * (cum_a + cum_b - (ca + cb)) + (ca + cb) + 1 AS DECIMAL(20,0))
        AS DECIMAL(38,0))) AS s2ra,
    SUM(CAST(CAST(ca + cb AS DECIMAL(12,0)) * CAST(ca + cb AS DECIMAL(12,0))
        * CAST(ca + cb AS DECIMAL(12,0)) - CAST(ca + cb AS DECIMAL(12,0))
        AS DECIMAL(38,0))) AS ties
  FROM c
)
SELECT na AS n_a, nb AS n_b,
  round(CAST(s2ra AS DOUBLE) / 2.0
        - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0, 2) + 0.0 AS u_stat,
  round(CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
       * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
          - CAST(ties AS DOUBLE) / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))) > 0
   THEN ((CAST(s2ra AS DOUBLE) / 2.0
          - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0)
         - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
        / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
       * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
          - CAST(ties AS DOUBLE) / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))))
  END, 6) + 0.0 AS z
FROM s
"""


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the daily-revenue series by
    between-segment variance reduction — exact-decimal prefix sums via
    the two-phase cumulative, closed-form doubles, TakeOrdered
    argmax."""
    from csp_gateway_spark.operators.analytics import changepoint

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = changepoint(daily, "day_num", "rev")
    return out.select(
        "n",
        "split_key",
        (F.round("reduction", 2) + F.lit(0.0)).alias("reduction"),
        (F.round("mean_left", 4) + F.lit(0.0)).alias("mean_left"),
        (F.round("mean_right", 4) + F.lit(0.0)).alias("mean_right"),
    )


ORACLE_CHANGEPOINT = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
), c AS (
  SELECT k,
    CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rn,
    SUM(y) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
), t AS (
  SELECT SUM(y) AS s, CAST(count(*) AS BIGINT) AS n FROM d
), scored AS (
  SELECT k, n,
    CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / CAST(rn AS DOUBLE)
      + (CAST(s AS DOUBLE) - CAST(cum AS DOUBLE)) * (CAST(s AS DOUBLE) - CAST(cum AS DOUBLE))
        / (CAST(n AS DOUBLE) - CAST(rn AS DOUBLE))
      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS red,
    CAST(cum AS DOUBLE) / CAST(rn AS DOUBLE) AS ml,
    (CAST(s AS DOUBLE) - CAST(cum AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(rn AS DOUBLE)) AS mr
  FROM c CROSS JOIN t WHERE rn < n
)
SELECT n, k AS split_key, round(red, 2) + 0.0 AS reduction,
       round(ml, 4) + 0.0 AS mean_left, round(mr, 4) + 0.0 AS mean_right
FROM scored ORDER BY red DESC, k ASC LIMIT 1
"""


_KW_GROUPS = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities on order
    value — the k-sample generalization of `mann_whitney` on the same
    doubled midranks (`analytics._rank_cells`), exact-integer rank
    sums."""
    from csp_gateway_spark.operators.analytics import kruskal_wallis

    orders = _t(spark, sf_dir, "orders")
    out = kruskal_wallis(orders, "o_orderpriority", "o_totalprice", _KW_GROUPS)
    return out.select(
        "grp",
        "n_g",
        (F.round("mean_rank", 4) + F.lit(0.0)).alias("mean_rank"),
        (F.round("h", 6) + F.lit(0.0)).alias("h"),
        (F.round("h_adj", 6) + F.lit(0.0)).alias("h_adj"),
    )


ORACLE_KRUSKAL_WALLIS = """
WITH pv AS (
  SELECT o_totalprice AS v,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
    CAST(count(*) AS BIGINT) AS ct
  FROM orders GROUP BY 1
), c AS (
  SELECT *, SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), s AS (
  SELECT
    CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
    CAST(SUM(c2) AS BIGINT) AS n2, CAST(SUM(c3) AS BIGINT) AS n3,
    CAST(SUM(c4) AS BIGINT) AS n4,
    SUM(CAST(CAST(c0 AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS r0,
    SUM(CAST(CAST(c1 AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS r1,
    SUM(CAST(CAST(c2 AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS r2,
    SUM(CAST(CAST(c3 AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS r3,
    SUM(CAST(CAST(c4 AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS r4,
    SUM(CAST(CAST(ct AS DECIMAL(12,0)) * CAST(ct AS DECIMAL(12,0)) * CAST(ct AS DECIMAL(12,0))
        - CAST(ct AS DECIMAL(12,0)) AS DECIMAL(38,0))) AS ties
  FROM c
), f AS (
  SELECT *, CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
          + CAST(n3 AS DOUBLE) + CAST(n4 AS DOUBLE) AS n
  FROM s
), st AS (
  SELECT *,
    12.0/(n*(n+1.0)) * ((CAST(r0 AS DOUBLE)/2.0)*(CAST(r0 AS DOUBLE)/2.0)/CAST(n0 AS DOUBLE)
      + (CAST(r1 AS DOUBLE)/2.0)*(CAST(r1 AS DOUBLE)/2.0)/CAST(n1 AS DOUBLE)
      + (CAST(r2 AS DOUBLE)/2.0)*(CAST(r2 AS DOUBLE)/2.0)/CAST(n2 AS DOUBLE)
      + (CAST(r3 AS DOUBLE)/2.0)*(CAST(r3 AS DOUBLE)/2.0)/CAST(n3 AS DOUBLE)
      + (CAST(r4 AS DOUBLE)/2.0)*(CAST(r4 AS DOUBLE)/2.0)/CAST(n4 AS DOUBLE)) - 3.0*(n+1.0) AS h,
    1.0 - CAST(ties AS DOUBLE)/(n*n*n - n) AS cc
  FROM f
)
SELECT '1-URGENT' AS grp, n0 AS n_g,
  round((CAST(r0 AS DOUBLE)/2.0)/CAST(n0 AS DOUBLE), 4) + 0.0 AS mean_rank,
  round(h, 6) + 0.0 AS h,
  round(CASE WHEN cc > 0 THEN h/cc END, 6) + 0.0 AS h_adj FROM st
UNION ALL
SELECT '2-HIGH', n1, round((CAST(r1 AS DOUBLE)/2.0)/CAST(n1 AS DOUBLE), 4) + 0.0,
  round(h, 6) + 0.0, round(CASE WHEN cc > 0 THEN h/cc END, 6) + 0.0 FROM st
UNION ALL
SELECT '3-MEDIUM', n2, round((CAST(r2 AS DOUBLE)/2.0)/CAST(n2 AS DOUBLE), 4) + 0.0,
  round(h, 6) + 0.0, round(CASE WHEN cc > 0 THEN h/cc END, 6) + 0.0 FROM st
UNION ALL
SELECT '4-NOT SPECIFIED', n3, round((CAST(r3 AS DOUBLE)/2.0)/CAST(n3 AS DOUBLE), 4) + 0.0,
  round(h, 6) + 0.0, round(CASE WHEN cc > 0 THEN h/cc END, 6) + 0.0 FROM st
UNION ALL
SELECT '5-LOW', n4, round((CAST(r4 AS DOUBLE)/2.0)/CAST(n4 AS DOUBLE), 4) + 0.0,
  round(h, 6) + 0.0, round(CASE WHEN cc > 0 THEN h/cc END, 6) + 0.0 FROM st
ORDER BY grp
"""


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: does URGENT-priority ship latency 'survive'
    differently from LOW? Packed dual at-risk cumulative (ks_test's
    packing) + duration-ordered O-E/variance folds."""
    from csp_gateway_spark.operators.analytics import logrank_test

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "O").cast("int").alias("cens"),
    )
    out = logrank_test(base, "prio", "dur", "cens", "1-URGENT", "5-LOW")
    return out.select(
        "n_a",
        "n_b",
        "o_a",
        (F.round("e_a", 4) + F.lit(0.0)).alias("e_a"),
        (F.round("chi2", 6) + F.lit(0.0)).alias("chi2"),
    )


ORACLE_LOGRANK_TEST = """
WITH base AS (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS t,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga,
         CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), steps AS (
  SELECT t,
    CAST(SUM(CASE WHEN ga = 1 AND c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
    CAST(SUM(CASE WHEN ga = 0 AND c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
    CAST(SUM(ga) AS BIGINT) AS n1,
    CAST(SUM(1 - ga) AS BIGINT) AS n2
  FROM base GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS na, CAST(SUM(n2) AS BIGINT) AS nb,
         CAST(SUM(d1) AS BIGINT) AS o1
  FROM steps
), cum AS (
  SELECT t, d1, d2, n1, n2,
    SUM(n1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
    SUM(n2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM steps
), risk AS (
  SELECT t, d1, d2, CAST(na - (ca - n1) AS BIGINT) AS r1,
         CAST(nb - (cb - n2) AS BIGINT) AS r2
  FROM cum CROSS JOIN tot
), terms AS (
  SELECT t,
    CAST(d1 + d2 AS DOUBLE) * CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE) AS e1,
    CASE WHEN r1 + r2 > 1 THEN
      CAST(d1 + d2 AS DOUBLE) * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        * ((CAST(r1 + r2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE)) / (CAST(r1 + r2 AS DOUBLE) - 1.0))
    ELSE 0.0 END AS v
  FROM risk
), packed AS (
  SELECT list(struct_pack(t := t, e1 := e1, v := v) ORDER BY t) AS z FROM terms
), folded AS (
  SELECT list_reduce(list_transform(z, x -> x.e1), (a, b) -> a + b) AS es,
         list_reduce(list_transform(z, x -> x.v), (a, b) -> a + b) AS vs
  FROM packed
)
SELECT na AS n_a, nb AS n_b, o1 AS o_a,
  round(es, 4) + 0.0 AS e_a,
  round(CASE WHEN vs > 0 THEN (CAST(o1 AS DOUBLE) - es) * (CAST(o1 AS DOUBLE) - es) / vs END, 6)
    + 0.0 AS chi2
FROM folded CROSS JOIN tot
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of daily order revenue around its
    median — exact-decimal median compare (2v vs m2), integer runs
    fold over the calendar-bounded packed series."""
    from csp_gateway_spark.operators.analytics import runs_test

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = runs_test(daily, "day_num", "rev")
    return out.select(
        "n_pos",
        "n_neg",
        "runs",
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_RUNS_TEST = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
), t AS (
  SELECT list(y ORDER BY y) AS lv, CAST(count(*) AS BIGINT) AS n FROM d
), m AS (
  SELECT CAST(lv[CAST((n+1)//2 AS INTEGER)] + lv[CAST((n+2)//2 AS INTEGER)] AS DECIMAL(20,2)) AS m2
  FROM t
), s AS (
  SELECT k, CASE WHEN CAST(y*2 AS DECIMAL(20,2)) > m2 THEN 1 ELSE 0 END AS sgn
  FROM d CROSS JOIN m WHERE CAST(y*2 AS DECIMAL(20,2)) != m2
), r AS (
  SELECT sgn, lag(sgn) OVER (ORDER BY k) AS p FROM s
), agg AS (
  SELECT CAST(SUM(sgn) AS BIGINT) AS np,
         CAST(SUM(1 - sgn) AS BIGINT) AS nn,
         CAST(SUM(CASE WHEN p IS NULL OR sgn != p THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM r
), z AS (
  SELECT np, nn, runs,
    2.0*CAST(np AS DOUBLE)*CAST(nn AS DOUBLE)/(CAST(np AS DOUBLE)+CAST(nn AS DOUBLE)) + 1.0 AS mu
  FROM agg
)
SELECT np AS n_pos, nn AS n_neg, runs,
  round(CASE WHEN (mu-1.0)*(mu-2.0)/((CAST(np AS DOUBLE)+CAST(nn AS DOUBLE))-1.0) > 0
    THEN (CAST(runs AS DOUBLE) - mu)
         / sqrt((mu-1.0)*(mu-2.0)/((CAST(np AS DOUBLE)+CAST(nn AS DOUBLE))-1.0)) END, 6)
    + 0.0 AS z
FROM z
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst peak-to-trough decline of daily order revenue — exact
    decimal prefix maxima over the calendar-bounded packed series, no
    FP compares."""
    from csp_gateway_spark.operators.analytics import max_drawdown

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = max_drawdown(daily, "day_num", "rev")
    return out.select("n", "trough_key", "peak", "trough", "drawdown")


ORACLE_MAX_DRAWDOWN = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
), m AS (
  SELECT k, y,
    MAX(y) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM d
), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
SELECT n, k AS trough_key, CAST(peak AS DOUBLE) AS peak, CAST(y AS DOUBLE) AS trough,
       CAST(CAST(peak - y AS DECIMAL(19,2)) AS DOUBLE) AS drawdown
FROM m CROSS JOIN t ORDER BY CAST(peak - y AS DECIMAL(19,2)) DESC, k ASC LIMIT 1
"""


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration HHI per nation on line revenue — exact
    decimal Σr/Σr² per group, single closed-form double per nation."""
    from csp_gateway_spark.operators.analytics import hhi_concentration

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    base = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
    )
    out = hhi_concentration(base, "n_name", "l_suppkey", "l_extendedprice")
    return out.select(
        "grp",
        "members",
        (F.round("hhi", 8) + F.lit(0.0)).alias("hhi"),
    )


ORACLE_HHI_CONCENTRATION = """
WITH per AS (
  SELECT n_name AS g, l_suppkey AS m,
         -- (19,2): int128 storage so r*r multiplies on DuckDB's
         -- int128 path — an (18,2) square overflows int64 (the
         -- round-5 lesson); values identical to Spark's (18,2) side
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS r
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
), a AS (
  SELECT g, CAST(count(*) AS BIGINT) AS members,
         SUM(r) AS s1,
         SUM(CAST(r * r AS DECIMAL(38,4))) AS s2
  FROM per GROUP BY 1
)
SELECT g AS grp, members,
  round(CAST(s2 AS DOUBLE) / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 8) + 0.0 AS hhi
FROM a ORDER BY grp
"""


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order priority and order status — χ² over
    the bounded contingency cells folded in (a,b) order, normalized
    effect size."""
    from csp_gateway_spark.operators.analytics import cramers_v

    orders = _t(spark, sf_dir, "orders")
    out = cramers_v(orders, "o_orderpriority", "o_orderstatus")
    return out.select(
        "n",
        "r",
        "c",
        (F.round("chi2", 4) + F.lit(0.0)).alias("chi2"),
        (F.round("v", 8) + F.lit(0.0)).alias("v"),
    )


ORACLE_CRAMERS_V = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), rt AS (SELECT a, CAST(SUM(c) AS BIGINT) AS rt FROM cells GROUP BY 1),
ct AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
grid AS (
  -- full r x c grid: zero-count cells still contribute (o-e)^2/e
  SELECT a, rt, b, ct, COALESCE(c, CAST(0 AS BIGINT)) AS c
  FROM rt CROSS JOIN ct LEFT JOIN cells USING (a, b)
), terms AS (
  SELECT a, b, n,
    (CAST(c AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(c AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS term
  FROM grid CROSS JOIN tot
), p AS (
  SELECT list(struct_pack(a := a, b := b, term := term) ORDER BY a, b) AS z,
         MAX(n) AS nn
  FROM terms
), f AS (
  SELECT nn AS n,
    CAST(len(list_distinct(list_transform(z, x -> x.a))) AS BIGINT) AS r,
    CAST(len(list_distinct(list_transform(z, x -> x.b))) AS BIGINT) AS c,
    list_reduce(list_transform(z, x -> x.term), (p, q) -> p + q) AS chi2
  FROM p
)
SELECT n, r, c, round(chi2, 4) + 0.0 AS chi2,
  round(CASE WHEN least(r, c) > 1
    THEN sqrt(chi2 / (CAST(n AS DOUBLE) * (CAST(least(r, c) AS DOUBLE) - 1.0)))
  END, 8) + 0.0 AS v
FROM f
"""


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean ship latency at τ=60 days — area under the
    `kaplan_meier` curve, duration-ordered step-integral fold."""
    from csp_gateway_spark.operators.analytics import rmst_from_steps

    out = rmst_from_steps(_survival_steps(spark, sf_dir), tau=60)
    return out.select(
        "tau",
        "steps",
        (F.round("rmst", 4) + F.lit(0.0)).alias("rmst"),
    )


ORACLE_RMST = """
WITH base AS (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS t,
         CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), steps AS (
  SELECT t, CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1
), risk AS (
  SELECT t, d,
    CAST(SUM(n) OVER () - COALESCE(SUM(n) OVER (
      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM steps
), f AS (
  SELECT t, d,
         1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM risk
), packed AS (
  SELECT list(struct_pack(t := t, d := d, f := factor) ORDER BY t) AS z FROM f
), ex AS (
  SELECT unnest(z) AS s, generate_subscripts(z, 1) AS i, z FROM packed
), surv AS (
  SELECT s.t AS t,
    list_reduce(list_transform(z[1:i], x -> x.f), (a, b) -> a * b) AS sv
  FROM ex WHERE s.d > 0 AND s.t < 60
), p2 AS (
  SELECT list(struct_pack(t := t, sv := sv) ORDER BY t) AS w FROM surv
), f2 AS (
  SELECT CAST(len(w) AS BIGINT) AS k, w FROM p2
), ex2 AS (
  SELECT k, w, unnest(w) AS s, generate_subscripts(w, 1) AS i FROM f2
), terms AS (
  SELECT k,
    s.sv * CAST((CASE WHEN i < k THEN w[CAST(i + 1 AS INTEGER)].t ELSE 60 END) - s.t
                AS DOUBLE) AS term,
    i
  FROM ex2
), folded AS (
  SELECT MAX(k) AS k,
    list_reduce(list_transform(list(struct_pack(i := i, term := term) ORDER BY i),
                               x -> x.term), (a, b) -> a + b) AS integral
  FROM terms
), head AS (
  SELECT CAST(w[1].t AS DOUBLE) AS h FROM f2
)
SELECT 60 AS tau, k AS steps, round(h + integral, 4) + 0.0 AS rmst
FROM folded CROSS JOIN head
"""


def q_quadratic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic trend of daily order revenue — exact decimal moment
    sums Σx..Σx⁴, Σy, Σxy, Σx²y in ONE scan, Cramer's-rule closed
    form, identical double expansion on both engines."""
    from csp_gateway_spark.operators.analytics import quadratic_trend

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = quadratic_trend(daily, "day_num", "rev")
    return out.select(
        "n",
        (F.round("b0", 4) + F.lit(0.0)).alias("b0"),
        (F.round("b1", 6) + F.lit(0.0)).alias("b1"),
        (F.round("b2", 8) + F.lit(0.0)).alias("b2"),
    )


ORACLE_QUADRATIC_TREND = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(k AS DECIMAL(18,0))) AS sx,
    SUM(CAST(CAST(k AS DECIMAL(9,0)) * CAST(k AS DECIMAL(9,0)) AS DECIMAL(38,0))) AS sx2,
    SUM(CAST(CAST(k AS DECIMAL(12,0)) * CAST(k AS DECIMAL(12,0)) * CAST(k AS DECIMAL(12,0))
        AS DECIMAL(38,0))) AS sx3,
    SUM(CAST(CAST(CAST(k AS DECIMAL(9,0)) * CAST(k AS DECIMAL(9,0)) AS DECIMAL(18,0))
        * CAST(CAST(k AS DECIMAL(9,0)) * CAST(k AS DECIMAL(9,0)) AS DECIMAL(18,0))
        AS DECIMAL(38,0))) AS sx4,
    SUM(y) AS sy,
    SUM(CAST(CAST(k AS DECIMAL(10,0)) * y AS DECIMAL(38,2))) AS sxy,
    SUM(CAST(CAST(CAST(k AS DECIMAL(9,0)) * CAST(k AS DECIMAL(9,0)) AS DECIMAL(14,0)) * y
        AS DECIMAL(38,2))) AS sx2y
  FROM d
), v AS (
  SELECT n,
    CAST(n AS DOUBLE) AS m0, CAST(sx AS DOUBLE) AS m1, CAST(sx2 AS DOUBLE) AS m2,
    CAST(sx3 AS DOUBLE) AS m3, CAST(sx4 AS DOUBLE) AS m4,
    CAST(sy AS DOUBLE) AS z0, CAST(sxy AS DOUBLE) AS z1, CAST(sx2y AS DOUBLE) AS z2
  FROM s
), dets AS (
  SELECT n,
    m0*(m2*m4 - m3*m3) - m1*(m1*m4 - m3*m2) + m2*(m1*m3 - m2*m2) AS dd,
    z0*(m2*m4 - m3*m3) - m1*(z1*m4 - m3*z2) + m2*(z1*m3 - m2*z2) AS d0,
    m0*(z1*m4 - m3*z2) - z0*(m1*m4 - m3*m2) + m2*(m1*z2 - z1*m2) AS d1,
    m0*(m2*z2 - z1*m3) - m1*(m1*z2 - z1*m2) + z0*(m1*m3 - m2*m2) AS d2
  FROM v
)
SELECT n,
  round(CASE WHEN abs(dd) > 0 THEN d0/dd END, 4) + 0.0 AS b0,
  round(CASE WHEN abs(dd) > 0 THEN d1/dd END, 6) + 0.0 AS b1,
  round(CASE WHEN abs(dd) > 0 THEN d2/dd END, 8) + 0.0 AS b2
FROM dets
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of line quantity vs extended price —
    two two-phase midrank cumulatives, exact-integer rank sums,
    closed-form double."""
    from csp_gateway_spark.operators.analytics import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select("n", (F.round("rho", 8) + F.lit(0.0)).alias("rho"))


ORACLE_SPEARMAN_CORR = """
WITH b AS (
  SELECT l_quantity AS va, l_extendedprice AS vb FROM lineitem
), pa AS (
  SELECT va AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
), ra AS (
  SELECT v, CAST(2*(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) - c) + c + 1 AS BIGINT) AS r
  FROM pa
), pb AS (
  SELECT vb AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
), rb AS (
  SELECT v, CAST(2*(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) - c) + c + 1 AS BIGINT) AS r
  FROM pb
), j AS (
  SELECT ra.r AS xra, rb.r AS xrb
  FROM b JOIN ra ON b.va = ra.v JOIN rb ON b.vb = rb.v
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(xra AS DECIMAL(16,0))) AS s1,
    SUM(CAST(xrb AS DECIMAL(16,0))) AS s2,
    SUM(CAST(CAST(xra AS DECIMAL(13,0)) * CAST(xra AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS saa,
    SUM(CAST(CAST(xrb AS DECIMAL(13,0)) * CAST(xrb AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS sbb,
    SUM(CAST(CAST(xra AS DECIMAL(13,0)) * CAST(xrb AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS sab
  FROM j
)
SELECT n,
  round(CASE WHEN (CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
            * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)) > 0
    THEN (CAST(n AS DOUBLE)*CAST(sab AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
              * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)))
  END, 8) + 0.0 AS rho
FROM s
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of daily order revenue — exact
    decimal total, key-ordered central-moment folds with pinned FP
    shape."""
    from csp_gateway_spark.operators.analytics import jarque_bera

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = jarque_bera(daily, "day_num", "rev")
    return out.select(
        "n",
        (F.round("skew", 8) + F.lit(0.0)).alias("skew"),
        (F.round("kurt", 8) + F.lit(0.0)).alias("kurt"),
        (F.round("jb", 6) + F.lit(0.0)).alias("jb"),
    )


ORACLE_JARQUE_BERA = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
), t AS (
  SELECT list(struct_pack(k := k, y := y) ORDER BY k) AS z,
         SUM(y) AS tot, CAST(count(*) AS BIGINT) AS n
  FROM d
), m AS (
  SELECT n, z, CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM t
), f AS (
  SELECT n,
    list_reduce(list_transform(z, x ->
      (CAST(x.y AS DOUBLE) - mu) * (CAST(x.y AS DOUBLE) - mu)), (a, b) -> a + b) AS m2,
    list_reduce(list_transform(z, x ->
      (CAST(x.y AS DOUBLE) - mu) * (CAST(x.y AS DOUBLE) - mu) * (CAST(x.y AS DOUBLE) - mu)),
      (a, b) -> a + b) AS m3,
    list_reduce(list_transform(z, x ->
      ((CAST(x.y AS DOUBLE) - mu) * (CAST(x.y AS DOUBLE) - mu))
      * ((CAST(x.y AS DOUBLE) - mu) * (CAST(x.y AS DOUBLE) - mu))), (a, b) -> a + b) AS m4
  FROM m
), st AS (
  SELECT n,
    (m3 / CAST(n AS DOUBLE))
      / ((m2 / CAST(n AS DOUBLE)) * sqrt(m2 / CAST(n AS DOUBLE))) AS skew,
    (m4 / CAST(n AS DOUBLE))
      / ((m2 / CAST(n AS DOUBLE)) * (m2 / CAST(n AS DOUBLE))) AS kurt
  FROM f WHERE m2 > 0
)
SELECT n, round(skew, 8) + 0.0 AS skew, round(kurt, 8) + 0.0 AS kurt,
  round(CAST(n AS DOUBLE) / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6)
    + 0.0 AS jb
FROM st
"""


def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs outlier statistic on daily order revenue — exact
    decimal |n·y − Σy| argmax with key tiebreak, closed-form G."""
    from csp_gateway_spark.operators.analytics import grubbs_test

    orders = _t(spark, sf_dir, "orders")
    daily = _daily_revenue(spark, sf_dir)
    out = grubbs_test(daily, "day_num", "rev")
    return out.select(
        "n",
        "outlier_key",
        "value",
        (F.round("g", 8) + F.lit(0.0)).alias("g"),
    )


ORACLE_GRUBBS_TEST = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         -- (19,2): int128 storage so y*y squares on DuckDB's int128
         -- path (values identical to Spark's (18,2) side)
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(y) AS sv,
         SUM(CAST(y * y AS DECIMAL(38,4))) AS ss
  FROM d
), j AS (
  SELECT k, y, n, sv, ss,
    abs(CAST(y * CAST(n AS DECIMAL(12,0)) - sv AS DECIMAL(38,2))) AS dev
  FROM d CROSS JOIN t
)
SELECT n, k AS outlier_key, CAST(y AS DOUBLE) AS value,
  round(CASE WHEN (CAST(n AS DOUBLE)*CAST(ss AS DOUBLE)
                 - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
               / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) > 0
    THEN (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE)*CAST(ss AS DOUBLE)
               - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
              / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)))
  END, 8) + 0.0 AS g
FROM j ORDER BY dev DESC, k ASC LIMIT 1
"""


_DID_SPLIT_NS = 1705363200000000000  # 2024-01-16T00:00:00Z, mid-window


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of event value: click events
    (treated) vs all others, pre/post the window midpoint — four
    exact decimal cells, closed-form contrast."""
    from csp_gateway_spark.operators.analytics import diff_in_diff

    ev = _t(spark, sf_dir, "events")
    out = diff_in_diff(
        ev,
        treated=F.col("event_type") == "click",
        post=F.col("ts") >= F.lit(_DID_SPLIT_NS),
        value_col="value",
    )
    return out.select(
        "n",
        (F.round("m_treat_pre", 6) + F.lit(0.0)).alias("m_treat_pre"),
        (F.round("m_treat_post", 6) + F.lit(0.0)).alias("m_treat_post"),
        (F.round("m_ctrl_pre", 6) + F.lit(0.0)).alias("m_ctrl_pre"),
        (F.round("m_ctrl_post", 6) + F.lit(0.0)).alias("m_ctrl_post"),
        (F.round("did", 6) + F.lit(0.0)).alias("did"),
    )


ORACLE_DIFF_IN_DIFF = f"""
WITH b AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
         CASE WHEN epoch_ns(ts) >= {_DID_SPLIT_NS} THEN 1 ELSE 0 END AS p,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events
), s AS (
  SELECT
    SUM(CASE WHEN t = 1 AND p = 0 THEN y END) AS s_tp0,
    CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_tp0,
    SUM(CASE WHEN t = 1 AND p = 1 THEN y END) AS s_tp1,
    CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_tp1,
    SUM(CASE WHEN t = 0 AND p = 0 THEN y END) AS s_cp0,
    CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_cp0,
    SUM(CASE WHEN t = 0 AND p = 1 THEN y END) AS s_cp1,
    CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cp1
  FROM b
)
SELECT c_tp0 + c_tp1 + c_cp0 + c_cp1 AS n,
  round(CAST(s_tp0 AS DOUBLE) / CAST(c_tp0 AS DOUBLE), 6) + 0.0 AS m_treat_pre,
  round(CAST(s_tp1 AS DOUBLE) / CAST(c_tp1 AS DOUBLE), 6) + 0.0 AS m_treat_post,
  round(CAST(s_cp0 AS DOUBLE) / CAST(c_cp0 AS DOUBLE), 6) + 0.0 AS m_ctrl_pre,
  round(CAST(s_cp1 AS DOUBLE) / CAST(c_cp1 AS DOUBLE), 6) + 0.0 AS m_ctrl_post,
  round((CAST(s_tp1 AS DOUBLE) / CAST(c_tp1 AS DOUBLE)
       - CAST(s_tp0 AS DOUBLE) / CAST(c_tp0 AS DOUBLE))
      - (CAST(s_cp1 AS DOUBLE) / CAST(c_cp1 AS DOUBLE)
       - CAST(s_cp0 AS DOUBLE) / CAST(c_cp0 AS DOUBLE)), 6) + 0.0 AS did
FROM s
"""


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Holt-Winters additive seasonal forecast of daily order
    revenue — level/trend/seasonal fold with a rotating 7-slot
    seasonal array; the oracle steps identical expressions in a
    recursive CTE carrying a LIST column."""
    from csp_gateway_spark.operators.analytics import holt_winters

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "day_num", "rev", double_val=True)
    out = holt_winters(daily, "day_num", "rev", period=7, horizon=7)
    return out.select(
        "h", (F.round("forecast", 4) + F.lit(0.0)).alias("forecast")
    ).orderBy("h")


ORACLE_HOLT_WINTERS = f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders GROUP BY 1
), o AS (
  SELECT v, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rn FROM d
), p AS (
  SELECT list(v ORDER BY rn) AS lv FROM o
), init AS (
  SELECT list_reduce(lv[1:7], (a, b) -> a + b) AS s1,
         list_reduce(lv[8:14], (a, b) -> a + b) AS s2,
         lv
  FROM p
), i2 AS (
  SELECT s1/7.0 AS l0, (s2/7.0 - s1/7.0)/7.0 AS b0,
         list_transform(lv[1:7], x -> x - s1/7.0) AS s0
  FROM init
), r AS (
  SELECT CAST(7 AS BIGINT) AS i, l0 AS l, b0 AS b, s0 AS s FROM i2
  UNION ALL
  SELECT r.i + 1,
    0.5*(o.v - r.s[CAST((r.i % 7) + 1 AS INTEGER)]) + 0.5*(r.l + r.b),
    0.25*((0.5*(o.v - r.s[CAST((r.i % 7) + 1 AS INTEGER)]) + 0.5*(r.l + r.b)) - r.l)
      + 0.75*r.b,
    list_transform([0, 1, 2, 3, 4, 5, 6], j -> CASE WHEN j = (r.i % 7)
      THEN 0.25*(o.v - (0.5*(o.v - r.s[CAST((r.i % 7) + 1 AS INTEGER)])
                        + 0.5*(r.l + r.b)))
           + 0.75*r.s[CAST((r.i % 7) + 1 AS INTEGER)]
      ELSE r.s[CAST(j + 1 AS INTEGER)] END)
  FROM r JOIN o ON o.rn = r.i + 1
), fin AS (
  SELECT l, b, s FROM r WHERE i = (SELECT max(rn) FROM o)
)
SELECT CAST(h AS INTEGER) AS h,
  round(l + CAST(h AS DOUBLE)*b
        + s[CAST(((SELECT max(rn) FROM o) + h - 1) % 7 + 1 AS INTEGER)], 4)
    + 0.0 AS forecast
FROM fin CROSS JOIN (SELECT unnest(range(1, 8)) AS h)
ORDER BY h
"""


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar supplier relatedness over the part-supplier
    bipartite graph — hub-blocked pair generation with a degree cap,
    part-sorted weight folds, exact-tiebreak top-20."""
    from csp_gateway_spark.operators.corpus import adamic_adar

    li = _t(spark, sf_dir, "lineitem").filter(
        F.year(F.col("l_shipdate")) == 1995
    )
    out = adamic_adar(li, "l_partkey", "l_suppkey", top_k=20)
    return out.select(
        "n1",
        "n2",
        "shared",
        (F.round("score", 8) + F.lit(0.0)).alias("score"),
    )


ORACLE_ADAMIC_ADAR = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE date_part('year', l_shipdate) = 1995
), deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d FROM ps GROUP BY 1
  HAVING count(*) >= 2 AND count(*) <= 1000
), w AS (
  SELECT p, 1.0 / ln(CAST(d AS DOUBLE)) AS w FROM deg
), pr AS (
  SELECT a.p AS p, a.s AS s1, b.s AS s2
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
), t AS (
  SELECT pr.s1, pr.s2, pr.p, w.w FROM pr JOIN w ON pr.p = w.p
), g AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS shared,
    list_reduce(list_transform(list(struct_pack(p := p, w := w) ORDER BY p),
                               x -> x.w), (a, b) -> a + b) AS score
  FROM t GROUP BY 1, 2
)
SELECT s1 AS n1, s2 AS n2, shared, round(score, 8) + 0.0 AS score
FROM g ORDER BY score DESC, s1 ASC, s2 ASC LIMIT 20
"""


def q_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customer leaderboard churn between the two halves of
    the order window — Jaccard set overlap + Spearman footrule over
    exact-decimal TakeOrdered leaderboards."""
    from csp_gateway_spark.operators.analytics import topk_overlap

    orders = _t(spark, sf_dir, "orders")
    out = topk_overlap(
        orders,
        split=F.col("o_orderdate") >= F.lit("1995-07-01").cast("date"),
        key_col="o_custkey",
        value_col="o_totalprice",
        k=20,
    )
    return out.select(
        "k",
        "n_a",
        "n_b",
        "n_common",
        (F.round("jaccard", 8) + F.lit(0.0)).alias("jaccard"),
        "footrule",
    )


ORACLE_TOPK_OVERLAP = """
WITH pa AS (
  SELECT o_custkey AS k, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS r
  FROM orders WHERE o_orderdate < DATE '1995-07-01' GROUP BY 1
  ORDER BY r DESC, k ASC LIMIT 20
), pb AS (
  SELECT o_custkey AS k, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS r
  FROM orders WHERE o_orderdate >= DATE '1995-07-01' GROUP BY 1
  ORDER BY r DESC, k ASC LIMIT 20
), ra AS (
  SELECT k, CAST(row_number() OVER (ORDER BY r DESC, k ASC) AS BIGINT) AS rank_a FROM pa
), rb AS (
  SELECT k, CAST(row_number() OVER (ORDER BY r DESC, k ASC) AS BIGINT) AS rank_b FROM pb
), j AS (
  SELECT ra.rank_a, rb.rank_b FROM ra FULL OUTER JOIN rb USING (k)
), a AS (
  SELECT
    CAST(SUM(CASE WHEN rank_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN rank_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS n_common,
    CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
                  THEN abs(rank_a - rank_b) ELSE 0 END) AS BIGINT) AS footrule
  FROM j
)
SELECT 20 AS k, n_a, n_b, n_common,
  round(CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE), 8) + 0.0 AS jaccard,
  footrule
FROM a
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout on event value: even user_ids treated, window
    midpoint splits pre/post — per-user exact decimal totals, pooled
    exact moments, closed-form θ/adjusted means/ρ²."""
    from csp_gateway_spark.operators.analytics import cuped

    ev = _t(spark, sf_dir, "events")
    out = cuped(
        ev,
        "user_id",
        treated=F.pmod(F.col("user_id"), F.lit(2)) == 0,
        post=F.col("ts") >= F.lit(_DID_SPLIT_NS),
        value_col="value",
    )
    return out.select(
        "n",
        (F.round("theta", 8) + F.lit(0.0)).alias("theta"),
        (F.round("m_treat", 6) + F.lit(0.0)).alias("m_treat"),
        (F.round("m_treat_adj", 6) + F.lit(0.0)).alias("m_treat_adj"),
        (F.round("m_ctrl", 6) + F.lit(0.0)).alias("m_ctrl"),
        (F.round("m_ctrl_adj", 6) + F.lit(0.0)).alias("m_ctrl_adj"),
        (F.round("var_reduction", 8) + F.lit(0.0)).alias("var_reduction"),
    )


ORACLE_CUPED = f"""
WITH pu AS (
  SELECT user_id,
    CAST(MAX(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS t,
    -- (19,2): int128 storage so the x*x/x*y/y*y products below run on
    -- DuckDB's int128 path (values identical to Spark's (18,2) side)
    CAST(COALESCE(SUM(CASE WHEN epoch_ns(ts) < {_DID_SPLIT_NS}
                           THEN CAST(value AS DECIMAL(18,2)) END), 0)
         AS DECIMAL(19,2)) AS x,
    CAST(COALESCE(SUM(CASE WHEN epoch_ns(ts) >= {_DID_SPLIT_NS}
                           THEN CAST(value AS DECIMAL(18,2)) END), 0)
         AS DECIMAL(19,2)) AS y
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(x) AS sx, SUM(y) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy,
    CAST(SUM(t) AS BIGINT) AS nt,
    SUM(CASE WHEN t = 1 THEN x END) AS sxt,
    SUM(CASE WHEN t = 1 THEN y END) AS syt
  FROM pu
), v AS (
  SELECT n,
    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd,
    CAST(nt AS DOUBLE) AS ntd, CAST(sxt AS DOUBLE) AS sxtd, CAST(syt AS DOUBLE) AS sytd
  FROM s
), e AS (
  SELECT n, nd, sxd, syd, ntd, sxtd, sytd,
    nd * sxyd - sxd * syd AS cov,
    nd * sxxd - sxd * sxd AS vx,
    nd * syyd - syd * syd AS vy
  FROM v
), f AS (
  SELECT n, ntd, sytd, syd, sxtd, sxd, nd, cov, vx, vy,
    CASE WHEN vx > 0 THEN cov / vx END AS theta
  FROM e
)
SELECT n,
  round(theta, 8) + 0.0 AS theta,
  round(sytd / ntd, 6) + 0.0 AS m_treat,
  round(sytd / ntd - theta * (sxtd / ntd - sxd / nd), 6) + 0.0 AS m_treat_adj,
  round((syd - sytd) / (nd - ntd), 6) + 0.0 AS m_ctrl,
  round((syd - sytd) / (nd - ntd) - theta * ((sxd - sxtd) / (nd - ntd) - sxd / nd), 6)
    + 0.0 AS m_ctrl_adj,
  round(CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END, 8) + 0.0 AS var_reduction
FROM f
"""


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast of supplier 1's daily
    line revenue (sparse by construction) — dual (size, interval)
    EWMA fold with pinned FP order; recursive-CTE oracle."""
    from csp_gateway_spark.operators.analytics import croston

    li = _t(spark, sf_dir, "lineitem")
    daily = (
        li.filter(F.col("l_suppkey") == 1)
        .groupBy(
            F.datediff(F.col("l_shipdate"), F.lit(_LAG_CORR_EPOCH)).alias(
                "day_num"
            )
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    out = croston(daily, "day_num", "rev", alpha=0.5)
    return out.select(
        "n_demands",
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
        (F.round("p", 6) + F.lit(0.0)).alias("p"),
        (F.round("forecast", 6) + F.lit(0.0)).alias("forecast"),
    )


ORACLE_CROSTON = f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', l_shipdate) AS BIGINT) AS k,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM lineitem WHERE l_suppkey = 1 GROUP BY 1
), o AS (
  SELECT k, v, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rn,
         k - lag(k) OVER (ORDER BY k) AS q0
  FROM d
), o2 AS (
  SELECT rn, v, CASE WHEN q0 IS NULL THEN 1 ELSE q0 END AS q FROM o
), r AS (
  SELECT CAST(1 AS BIGINT) AS i,
         (SELECT v FROM o2 WHERE rn = 1) AS z,
         CAST((SELECT q FROM o2 WHERE rn = 1) AS DOUBLE) AS p
  UNION ALL
  SELECT r.i + 1,
         0.5*o2.v + 0.5*r.z,
         0.5*CAST(o2.q AS DOUBLE) + 0.5*r.p
  FROM r JOIN o2 ON o2.rn = r.i + 1
), fin AS (
  SELECT z, p FROM r WHERE i = (SELECT max(rn) FROM o2)
)
SELECT (SELECT max(rn) FROM o2) AS n_demands,
  round(z, 6) + 0.0 AS z, round(p, 6) + 0.0 AS p,
  round(z/p, 6) + 0.0 AS forecast
FROM fin
"""


def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank: did same-day-of-year revenue shift from
    1994 to 1995? Exact decimal differences, doubled-midrank W⁺ on
    the two-phase cumulative, tie-corrected z."""
    from csp_gateway_spark.operators.analytics import wilcoxon_signed_rank

    orders = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate"))
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        orders.filter(yr.isin(1994, 1995))
        .groupBy(F.dayofyear(F.col("o_orderdate")).alias("doy"))
        .agg(
            F.sum(F.when(yr == 1994, price)).cast("decimal(18,2)").alias("y94"),
            F.sum(F.when(yr == 1995, price)).cast("decimal(18,2)").alias("y95"),
        )
        .filter(F.col("y94").isNotNull() & F.col("y95").isNotNull())
    )
    out = wilcoxon_signed_rank(daily, "y95", "y94")
    return out.select(
        "n",
        (F.round("w_plus", 2) + F.lit(0.0)).alias("w_plus"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_WILCOXON = """
WITH p AS (
  SELECT date_part('doy', o_orderdate) AS doy,
    CAST(SUM(CASE WHEN date_part('year', o_orderdate) = 1994
             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y94,
    CAST(SUM(CASE WHEN date_part('year', o_orderdate) = 1995
             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y95
  FROM orders WHERE date_part('year', o_orderdate) IN (1994, 1995) GROUP BY 1
), d0 AS (
  SELECT CAST(y95 - y94 AS DECIMAL(19,2)) AS d FROM p
  WHERE y94 IS NOT NULL AND y95 IS NOT NULL AND CAST(y95 - y94 AS DECIMAL(19,2)) != 0
), pv AS (
  SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp
  FROM d0 GROUP BY 1
), c AS (
  SELECT *, SUM(ct) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), s AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS n,
    SUM(CAST(CAST(cp AS DECIMAL(16,0)) * CAST(2*(cum-ct)+ct+1 AS DECIMAL(20,0)) AS DECIMAL(38,0))) AS w2,
    SUM(CAST(CAST(ct AS DECIMAL(12,0)) * CAST(ct AS DECIMAL(12,0)) * CAST(ct AS DECIMAL(12,0))
        - CAST(ct AS DECIMAL(12,0)) AS DECIMAL(38,0))) AS ties
  FROM c
)
SELECT n, round(CAST(w2 AS DOUBLE)/2.0, 2) + 0.0 AS w_plus,
  round(CASE WHEN CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0
               - CAST(ties AS DOUBLE)/48.0 > 0
    THEN (CAST(w2 AS DOUBLE)/2.0 - CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/4.0)
         / sqrt(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0
              - CAST(ties AS DOUBLE)/48.0)
  END, 6) + 0.0 AS z
FROM s
"""


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of order value across the five priorities —
    per-group exact decimal moments in one scan, group-sorted
    between-group fold."""
    from csp_gateway_spark.operators.analytics import anova_f

    orders = _t(spark, sf_dir, "orders")
    out = anova_f(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "n",
        "k",
        (F.round("ssb", 2) + F.lit(0.0)).alias("ssb"),
        (F.round("ssw", 2) + F.lit(0.0)).alias("ssw"),
        (F.round("f", 6) + F.lit(0.0)).alias("f"),
    )


ORACLE_ANOVA_F = """
WITH per AS (
  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sg,
    SUM(CAST(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))
        AS DECIMAL(38,4))) AS ssg
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
    SUM(sg) AS s, SUM(ssg) AS ss,
    list_reduce(list_transform(
      list(struct_pack(g := g,
                       term := CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
           ORDER BY g),
      x -> x.term), (a, b) -> a + b) AS bt
  FROM per
), f AS (
  SELECT n, k,
    bt - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
    CAST(ss AS DOUBLE) - bt AS ssw,
    CAST(k AS DOUBLE) - 1.0 AS df1,
    CAST(n AS DOUBLE) - CAST(k AS DOUBLE) AS df2
  FROM t
)
SELECT n, k, round(ssb, 2) + 0.0 AS ssb, round(ssw, 2) + 0.0 AS ssw,
  round(CASE WHEN df1 > 0 AND df2 > 0 AND ssw > 0
    THEN (ssb / df1) / (ssw / df2) END, 6) + 0.0 AS f
FROM f
"""


# ---------------------------------------------------------------------------
# WAVE 21 (round 9) — evaluation / agreement / privacy / sequential testing
# ---------------------------------------------------------------------------


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the document length signal as a 'from the target
    source' classifier — exact midrank AUC (= normalized Mann-Whitney
    U), the evaluation gate a quality-filter model ships through."""
    from csp_gateway_spark.operators.analytics import roc_auc

    docs = _ts(spark, sf_dir, "documents")
    out = roc_auc(
        docs.select(
            F.col("n_chars").alias("score"),
            (F.col("source") == "src0").cast("int").alias("label"),
        ),
        "score",
        "label",
    )
    return out.select(
        "n_pos", "n_neg", (F.round("auc", 8) + F.lit(0.0)).alias("auc")
    )


ORACLE_ROC_AUC = """
WITH pv AS (
  SELECT n_chars AS v,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM documents GROUP BY 1
), c AS (
  SELECT v, cp, cn,
    SUM(cp + cn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), s AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn,
    SUM(CAST(CAST(cp AS DECIMAL(16,0))
        * CAST(2 * (cum - (cp + cn)) + (cp + cn) + 1 AS DECIMAL(20,0))
        AS DECIMAL(38,0))) AS s2rp
  FROM c
)
SELECT np AS n_pos, nn AS n_neg,
  round(CASE WHEN np > 0 AND nn > 0 THEN
    (CAST(s2rp AS DOUBLE) / 2.0 - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)
    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) END, 8) + 0.0 AS auc
FROM s
"""


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic 'annotators' (char-count
    buckets vs token-count buckets) — the double-annotation QA gate."""
    from csp_gateway_spark.operators.analytics import cohen_kappa
    from csp_gateway_spark.operators.text import tokens

    docs = _ts(spark, sf_dir, "documents")
    # empty-filtered count — matches len(_SQL_TOKS) exactly (an
    # empty/whitespace-only doc is 0 tokens, not 1), same as
    # readability(); keeps the bucket edges engine-identical
    nw = F.size(F.filter(tokens(F.col("text")), lambda t: t != F.lit("")))
    rated = docs.select(
        F.when(F.col("n_chars") < 250, "short")
        .when(F.col("n_chars") < 400, "mid")
        .otherwise("long")
        .alias("rater_a"),
        F.when(nw < 45, "short").when(nw < 72, "mid").otherwise("long").alias(
            "rater_b"
        ),
    )
    out = cohen_kappa(rated, "rater_a", "rater_b")
    return out.select(
        "n",
        (F.round("po", 8) + F.lit(0.0)).alias("po"),
        (F.round("pe", 8) + F.lit(0.0)).alias("pe"),
        (F.round("kappa", 8) + F.lit(0.0)).alias("kappa"),
    )


ORACLE_COHEN_KAPPA = f"""
WITH b AS (
  SELECT CASE WHEN n_chars < 250 THEN 'short'
              WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS a,
         CASE WHEN len({_SQL_TOKS}) < 45 THEN 'short'
              WHEN len({_SQL_TOKS}) < 72 THEN 'mid' ELSE 'long' END AS b
  FROM documents
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS diag
  FROM b
), ma AS (SELECT a AS k, CAST(count(*) AS BIGINT) AS ca FROM b GROUP BY 1),
mb AS (SELECT b AS k, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY 1),
pe AS (
  SELECT SUM(CAST(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS pe_num
  FROM ma JOIN mb USING (k)
)
SELECT n,
  round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 8) + 0.0 AS po,
  round(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 8) + 0.0 AS pe,
  round(CASE WHEN CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
    THEN (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         / (1.0 - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
  END, 8) + 0.0 AS kappa
FROM tot, pe
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over four deterministic synthetic raters (length
    buckets under per-rater integer perturbation) — multi-annotator
    agreement for labeling-pipeline QA."""
    from csp_gateway_spark.operators.analytics import fleiss_kappa

    docs = _ts(spark, sf_dir, "documents")
    rated = docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(r) for r in range(4)])).alias("_r"),
        "n_chars",
    ).select(
        F.col("doc_id").alias("item"),
        F.when(
            F.col("n_chars") + 37 * ((F.col("doc_id") * (F.col("_r") + 1)) % 7)
            < 280,
            "a",
        )
        .when(
            F.col("n_chars") + 37 * ((F.col("doc_id") * (F.col("_r") + 1)) % 7)
            < 430,
            "b",
        )
        .otherwise("c")
        .alias("rating"),
    )
    out = fleiss_kappa(rated, "item", "rating")
    return out.select(
        "n_items",
        "n_raters",
        (F.round("p_bar", 8) + F.lit(0.0)).alias("p_bar"),
        (F.round("p_e", 8) + F.lit(0.0)).alias("p_e"),
        (F.round("kappa", 8) + F.lit(0.0)).alias("kappa"),
    )


ORACLE_FLEISS_KAPPA = """
WITH rated AS (
  SELECT doc_id AS item,
         CASE WHEN n_chars + 37 * ((doc_id * (r + 1)) % 7) < 280 THEN 'a'
              WHEN n_chars + 37 * ((doc_id * (r + 1)) % 7) < 430 THEN 'b'
              ELSE 'c' END AS rating
  FROM documents, (SELECT unnest([0, 1, 2, 3]) AS r)
), cells AS (
  SELECT item, rating, CAST(count(*) AS BIGINT) AS nik
  FROM rated GROUP BY 1, 2
), per_item AS (
  SELECT item, CAST(SUM(nik) AS BIGINT) AS r,
    SUM(CAST(CAST(nik AS DECIMAL(19,0)) * CAST(nik AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS sq
  FROM cells GROUP BY 1
), items AS (
  SELECT CAST(count(*) AS BIGINT) AS n, MIN(r) AS rr, SUM(sq) AS ssq
  FROM per_item
), cats AS (
  SELECT SUM(CAST(CAST(ck AS DECIMAL(19,0)) * CAST(ck AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS cksq
  FROM (SELECT rating, CAST(SUM(nik) AS BIGINT) AS ck FROM cells GROUP BY 1)
), f AS (
  SELECT n, rr,
    (CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * CAST(rr AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE) * (CAST(rr AS DOUBLE) - 1.0)) AS p_bar,
    CAST(cksq AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE) * CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)) AS p_e
  FROM items, cats
)
SELECT n AS n_items, rr AS n_raters,
  round(p_bar, 8) + 0.0 AS p_bar, round(p_e, 8) + 0.0 AS p_e,
  round(CASE WHEN p_e < 1.0 THEN (p_bar - p_e) / (1.0 - p_e) END, 8) + 0.0 AS kappa
FROM f
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of order priorities within customer
    (mktsegment × nation) quasi-identifier groups — the privacy
    screen beside ``k_anonymity`` before a data release."""
    from csp_gateway_spark.operators.analytics import l_diversity

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment", "c_nationkey")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    out = l_diversity(
        j, ["c_mktsegment", "c_nationkey"], "o_orderpriority", l=5
    )
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "k_count",
        "l_distinct",
        "at_risk",
    ).orderBy("segment", "nationkey")


ORACLE_L_DIVERSITY = """
SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nationkey,
  CAST(count(*) AS BIGINT) AS k_count,
  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
  count(DISTINCT o_orderpriority) < 5 AS at_risk
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT monitoring of the daily 'high-value event' rate
    (value > 50) against H0 p=0.30 vs H1 p=0.40 — the always-valid
    sequential readout beside the fixed-horizon ``ab_test``."""
    from csp_gateway_spark.operators.analytics import sprt_monitor

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.expr("ts div 86400000000000L").alias("day"),
        (F.col("value") > 50.0).cast("int").alias("success"),
    )
    out = sprt_monitor(base, "day", "success", p0=0.30, p1=0.40)
    return out.select(
        "day",
        "t",
        "k",
        (F.round("llr", 6) + F.lit(0.0)).alias("llr"),
        "decision",
    ).orderBy("day")


def _oracle_sprt_monitor() -> str:
    import math

    c1 = math.log(0.40 / 0.30)
    c0 = math.log(0.60 / 0.70)
    lo = math.log(0.05 / 0.95)
    hi = math.log(0.95 / 0.05)
    return f"""
WITH per AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day,
         CAST(count(*) AS BIGINT) AS td,
         CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS kd
  FROM events GROUP BY 1
), c AS (
  SELECT day,
    SUM(td) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
    SUM(kd) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
  FROM per
), l AS (
  SELECT day, CAST(t AS BIGINT) AS t, CAST(k AS BIGINT) AS k,
    CAST(k AS DOUBLE) * {c1!r} + (CAST(t AS DOUBLE) - CAST(k AS DOUBLE)) * {c0!r} AS llr
  FROM c
)
SELECT day, t, k, round(llr, 6) + 0.0 AS llr,
  CASE WHEN llr >= {hi!r} THEN 'accept_h1'
       WHEN llr <= {lo!r} THEN 'accept_h0'
       ELSE 'continue' END AS decision
FROM l ORDER BY day
"""


def q_bollinger_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-calendar-day mean ± 2σ) on daily order
    revenue with breach flags — the band-monitoring shape of a
    market-data gateway, built with zero unpartitioned windows
    (explode-offset + hash aggregate)."""
    from csp_gateway_spark.operators.analytics import bollinger_bands

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = bollinger_bands(base, "day", "o_totalprice", n=20, k=2.0)
    # readout discipline (sf0.1 lesson): mid = Σ/20 TERMINATES in
    # decimal, so it lands exactly on .005 round boundaries where the
    # engines' double-round semantics can disagree — emit it as the
    # EXACT integer mean×10⁴ (Σ·500 is integral) instead of rounding;
    # std is irrational (sqrt), so a 2dp round only risks the ~1e-8
    # int128→double conversion jitter — negligible at 2dp; the bands
    # derive from those two engine-identical values
    mid_e4 = (F.col("wsum").cast("decimal(38,2)") * F.lit(500)).cast(
        "decimal(38,0)"
    ).cast("long")
    std_r = F.round("std", 2) + F.lit(0.0)
    mid_d = mid_e4.cast("double") / F.lit(10000.0)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round("value", 2) + F.lit(0.0)).alias("value"),
        mid_e4.alias("mid_e4"),
        std_r.alias("std"),
        (mid_d + F.lit(2.0) * std_r).alias("upper"),
        (mid_d - F.lit(2.0) * std_r).alias("lower"),
        "breach",
    ).orderBy("day")


ORACLE_BOLLINGER_BREACHES = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
  FROM orders GROUP BY 1
), w AS (
  SELECT day, v,
    CAST(COUNT(*) OVER win AS BIGINT) AS cnt,
    SUM(v) OVER win AS s,
    SUM(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(38,4))) OVER win AS ss
  FROM daily
  WINDOW win AS (ORDER BY day RANGE BETWEEN INTERVAL 19 DAYS PRECEDING AND CURRENT ROW)
), f AS (
  SELECT day, CAST(v AS DOUBLE) AS value,
    CAST(CAST(s AS DECIMAL(38,2)) * 500 AS BIGINT) AS mid_e4,
    CAST(s AS DOUBLE) / 20.0 AS mean,
    sqrt(GREATEST((20.0 * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (20.0 * 19.0), 0.0)) AS std
  FROM w WHERE cnt = 20
)
SELECT strftime(day, '%Y-%m-%d') AS day,
  round(value, 2) + 0.0 AS value,
  mid_e4,
  round(std, 2) + 0.0 AS std,
  (CAST(mid_e4 AS DOUBLE) / 10000.0) + 2.0 * (round(std, 2) + 0.0) AS upper,
  (CAST(mid_e4 AS DOUBLE) / 10000.0) - 2.0 * (round(std, 2) + 0.0) AS lower,
  CASE WHEN value > mean + 2.0 * std THEN 'up'
       WHEN value < mean - 2.0 * std THEN 'down' END AS breach
FROM f ORDER BY day
"""


def q_rsi_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day SMA-form RSI on daily order revenue with
    overbought/oversold flags — calendar-day deltas, exact decimal
    gain/loss sums, closed-form double."""
    from csp_gateway_spark.operators.analytics import rsi

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = rsi(base, "day", "o_totalprice", n=14)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round("delta", 2) + F.lit(0.0)).alias("delta"),
        (F.round("rsi", 6) + F.lit(0.0)).alias("rsi"),
        "signal",
    ).orderBy("day")


ORACLE_RSI_SIGNAL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v
  FROM orders GROUP BY 1
), deltas AS (
  SELECT d2.day AS day, CAST(d2.v - d1.v AS DECIMAL(38,2)) AS delta
  FROM daily d2 JOIN daily d1 ON d1.day = d2.day - 1
), gl AS (
  SELECT day, delta,
    GREATEST(delta, CAST(0 AS DECIMAL(38,2))) AS g,
    GREATEST(-delta, CAST(0 AS DECIMAL(38,2))) AS l
  FROM deltas
), w AS (
  SELECT day, delta,
    CAST(COUNT(*) OVER win AS BIGINT) AS cnt,
    SUM(g) OVER win AS sg,
    SUM(l) OVER win AS sl
  FROM gl
  WINDOW win AS (ORDER BY day RANGE BETWEEN INTERVAL 13 DAYS PRECEDING AND CURRENT ROW)
), f AS (
  SELECT day, CAST(delta AS DOUBLE) AS delta,
    CASE WHEN CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE) > 0
      THEN 100.0 * CAST(sg AS DOUBLE) / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE)) END AS r
  FROM w WHERE cnt = 14
)
SELECT strftime(day, '%Y-%m-%d') AS day,
  round(delta, 2) + 0.0 AS delta,
  round(r, 6) + 0.0 AS rsi,
  CASE WHEN r > 70.0 THEN 'overbought' WHEN r < 30.0 THEN 'oversold' END AS signal
FROM f ORDER BY day
"""


def q_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly realized volatility of daily order revenue (√Σ of
    squared consecutive-day log returns, day-sorted packed fold so
    the double accumulation order is pinned)."""
    from csp_gateway_spark.operators.analytics import realized_volatility

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = realized_volatility(base, "day", "o_totalprice")
    return out.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "n_ret",
        (F.round("vol", 8) + F.lit(0.0)).alias("vol"),
    ).orderBy("month")


ORACLE_REALIZED_VOL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
), rets AS (
  SELECT d2.day AS rday,
         ln(CAST(d2.v AS DOUBLE)) - ln(CAST(d1.v AS DOUBLE)) AS r
  FROM daily d2 JOIN daily d1 ON d1.day = d2.day - 1
)
SELECT strftime(date_trunc('month', rday), '%Y-%m') AS month,
  CAST(count(*) AS BIGINT) AS n_ret,
  round(sqrt(list_sum(list(r * r ORDER BY rday))), 8) + 0.0 AS vol
FROM rets GROUP BY 1 ORDER BY 1
"""


_ATTR_WINDOW_NS = 7 * 86_400_000_000_000


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution of purchase conversions to the
    same-user touch events in the prior 7 days — last-touch,
    first-touch and (exact-fold) linear credit per touch type."""
    from csp_gateway_spark.operators.analytics import attribution

    ev = _t(spark, sf_dir, "events")
    out = attribution(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        conversion_type="purchase",
        window_ns=_ATTR_WINDOW_NS,
    )
    return out.select(
        "event_type",
        "touches",
        "last_credit",
        "first_credit",
        (F.round("linear_credit", 6) + F.lit(0.0)).alias("linear_credit"),
    ).orderBy("event_type")


ORACLE_ATTRIBUTION = f"""
WITH conv AS (
  SELECT event_id AS cid, user_id, epoch_ns(ts) AS cts
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT c.cid, e.event_type AS ttype, epoch_ns(e.ts) AS tts, e.event_id AS tid
  FROM conv c JOIN events e ON e.user_id = c.user_id
  WHERE e.event_type <> 'purchase'
    AND epoch_ns(e.ts) < c.cts
    AND epoch_ns(e.ts) >= c.cts - {_ATTR_WINDOW_NS}
), r AS (
  SELECT cid, ttype,
    row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC) AS rl,
    row_number() OVER (PARTITION BY cid ORDER BY tts ASC, tid ASC) AS rf,
    count(*) OVER (PARTITION BY cid) AS n
  FROM t
), agg AS (
  SELECT ttype, CAST(count(*) AS BIGINT) AS touches,
    CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_credit,
    CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_credit
  FROM r GROUP BY 1
), lin_cells AS (
  SELECT ttype, n, CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2
), lin AS (
  SELECT ttype,
    list_sum(list(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY n)) AS lc
  FROM lin_cells GROUP BY 1
)
SELECT agg.ttype AS event_type, touches, last_credit, first_credit,
  round(lc, 6) + 0.0 AS linear_credit
FROM agg JOIN lin ON agg.ttype = lin.ttype
ORDER BY 1
"""


def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of the lang / source features against the
    'long document' label — the feature-selection screen before
    training a quality classifier."""
    from csp_gateway_spark.operators.analytics import info_gain

    docs = _ts(spark, sf_dir, "documents")
    out = info_gain(
        docs.withColumn("_lbl", (F.col("n_chars") > 300).cast("int")),
        ["lang", "source"],
        "_lbl",
    )
    return out.select(
        "feature",
        "n_groups",
        (F.round("h_label", 8) + F.lit(0.0)).alias("h_label"),
        (F.round("ig", 8) + F.lit(0.0)).alias("ig"),
    ).orderBy("feature")


def _oracle_info_gain() -> str:
    def arm(col: str) -> str:
        return f"""
SELECT '{col}' AS feature, n_groups,
  round(h_label, 8) + 0.0 AS h_label,
  round(h_label - whg / CAST(N AS DOUBLE), 8) + 0.0 AS ig
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
    list_sum(list(CAST(ng AS DOUBLE) * hg ORDER BY g)) AS whg
  FROM (
    SELECT CAST({col} AS VARCHAR) AS g, CAST(count(*) AS BIGINT) AS ng,
      CAST(SUM(lbl) AS BIGINT) AS pg,
      (CASE WHEN SUM(lbl) > 0 THEN
         -(CAST(SUM(lbl) AS DOUBLE)/count(*)) * ln(CAST(SUM(lbl) AS DOUBLE)/count(*))
       ELSE 0.0 END
       + CASE WHEN count(*) - SUM(lbl) > 0 THEN
         -((count(*) - CAST(SUM(lbl) AS DOUBLE))/count(*))
           * ln((count(*) - CAST(SUM(lbl) AS DOUBLE))/count(*))
       ELSE 0.0 END) AS hg
    FROM lbl GROUP BY 1
  )
), (
  SELECT CAST(count(*) AS BIGINT) AS N,
    (CASE WHEN SUM(lbl) > 0 THEN
       -(CAST(SUM(lbl) AS DOUBLE)/count(*)) * ln(CAST(SUM(lbl) AS DOUBLE)/count(*))
     ELSE 0.0 END
     + CASE WHEN count(*) - SUM(lbl) > 0 THEN
       -((count(*) - CAST(SUM(lbl) AS DOUBLE))/count(*))
         * ln((count(*) - CAST(SUM(lbl) AS DOUBLE))/count(*))
     ELSE 0.0 END) AS h_label
  FROM lbl
)"""

    return (
        "WITH lbl AS (SELECT lang, source,"
        " CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS lbl FROM documents)\n"
        + arm("lang")
        + "\nUNION ALL\n"
        + arm("source")
        + "\nORDER BY feature"
    )


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV via the minimax identity) calibration of the
    normalized-length score against the 'English document' label on
    40 bins — packed-array nested folds, engine-exact."""
    from csp_gateway_spark.operators.analytics import isotonic_calibration

    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("n_chars") / F.lit(600.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = isotonic_calibration(scored, "score", "label", bins=40)
    return out.select(
        "bin",
        "n",
        (F.round("rate", 8) + F.lit(0.0)).alias("rate"),
        (F.round("iso_rate", 8) + F.lit(0.0)).alias("iso_rate"),
    ).orderBy("bin")


ORACLE_ISOTONIC_CALIBRATION = """
WITH cells AS (
  SELECT LEAST(GREATEST(CAST(floor((n_chars / 600.0) * 40) AS INT), 0), 39) AS b,
         CAST(count(*) AS BIGINT) AS w,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM documents GROUP BY 1
), packed AS (
  SELECT list(struct_pack(b := b, w := w, s := s) ORDER BY b) AS z FROM cells
), pre AS (
  SELECT z,
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(z) + 1),
        i -> CAST(list_sum(list_transform(z[1:i], x -> x.w)) AS BIGINT))) AS cw,
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(z) + 1),
        i -> CAST(list_sum(list_transform(z[1:i], x -> x.s)) AS BIGINT))) AS cs
  FROM packed
), iso AS (
  SELECT z,
    list_transform(range(1, len(z) + 1), i ->
      list_max(list_transform(range(1, i + 1), j ->
        list_min(list_transform(range(i, len(z) + 1), k ->
          CAST(cs[CAST(k AS INT) + 1] - cs[CAST(j AS INT)] AS DOUBLE)
            / CAST(cw[CAST(k AS INT) + 1] - cw[CAST(j AS INT)] AS DOUBLE))))))
      AS v
  FROM pre
), ex AS (
  SELECT unnest(z) AS s, unnest(v) AS iso FROM iso
)
SELECT s.b AS bin, s.w AS n,
  round(CAST(s.s AS DOUBLE) / CAST(s.w AS DOUBLE), 8) + 0.0 AS rate,
  round(iso, 8) + 0.0 AS iso_rate
FROM ex ORDER BY bin
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-style readability profile from exact integer
    word/syllable/letter totals (macro ratios — no double averaging)."""
    from csp_gateway_spark.operators.text import readability

    docs = _ts(spark, sf_dir, "documents")
    out = readability(docs, "text", "source")
    return out.select(
        "source",
        "n_docs",
        (F.round("avg_words", 6) + F.lit(0.0)).alias("avg_words"),
        (F.round("syl_per_word", 6) + F.lit(0.0)).alias("syl_per_word"),
        (F.round("letters_per_word", 6) + F.lit(0.0)).alias("letters_per_word"),
        (F.round("flesch", 6) + F.lit(0.0)).alias("flesch"),
    ).orderBy("source")


ORACLE_READABILITY = f"""
WITH d AS (
  SELECT source,
    len({_SQL_RAWTOKS}) AS w,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS s,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS l
  FROM documents
), g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(s) AS BIGINT) AS ss,
    CAST(SUM(l) AS BIGINT) AS sl
  FROM d GROUP BY 1
)
SELECT source, n_docs,
  round(CAST(sw AS DOUBLE) / n_docs, 6) + 0.0 AS avg_words,
  round(CAST(ss AS DOUBLE) / sw, 6) + 0.0 AS syl_per_word,
  round(CAST(sl AS DOUBLE) / sw, 6) + 0.0 AS letters_per_word,
  round(206.835 - 1.015 * (CAST(sw AS DOUBLE) / n_docs)
        - 84.6 * (CAST(ss AS DOUBLE) / sw), 6) + 0.0 AS flesch
FROM g ORDER BY source
"""


_ROUGE_OFFSET = 20


def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged ROUGE-1/2 between deterministic same-source doc
    pairs (d, d+20) — clipped n-gram overlap from exact integer
    counts, pure equi-join plan."""
    from csp_gateway_spark.operators.corpus import rouge_overlap

    docs = _ts(spark, sf_dir, "documents")
    out = rouge_overlap(docs, pair_offset=_ROUGE_OFFSET)
    return out.select(
        "source",
        "metric",
        "n_pairs",
        "overlap",
        "cand_total",
        "ref_total",
        (F.round("precision", 8) + F.lit(0.0)).alias("precision"),
        (F.round("recall", 8) + F.lit(0.0)).alias("recall"),
        (F.round("f1", 8) + F.lit(0.0)).alias("f1"),
    ).orderBy("source", "metric")


def _oracle_rouge_overlap() -> str:
    toks = f"list_filter(regexp_split_to_array({_SQL_NORM}, ' '), x -> x != '')"

    def arm(k: int, metric: str) -> str:
        if k == 1:
            grams = "tk"
        else:
            grams = (
                f"CASE WHEN len(tk) >= {k} THEN "
                f"list_transform(range(1, len(tk) - {k} + 2), "
                f"i -> array_to_string(tk[i:i+{k}-1], ' ')) "
                f"ELSE [array_to_string(tk, ' ')] END"
            )
        return f"""
SELECT g AS source, '{metric}' AS metric, n_pairs, overlap, cand_total, ref_total,
  round(CAST(overlap AS DOUBLE) / cand_total, 8) + 0.0 AS precision,
  round(CAST(overlap AS DOUBLE) / ref_total, 8) + 0.0 AS recall,
  round(CASE WHEN CAST(overlap AS DOUBLE) / cand_total
              + CAST(overlap AS DOUBLE) / ref_total > 0
    THEN 2.0 * (CAST(overlap AS DOUBLE) / cand_total)
             * (CAST(overlap AS DOUBLE) / ref_total)
         / (CAST(overlap AS DOUBLE) / cand_total
            + CAST(overlap AS DOUBLE) / ref_total)
    ELSE 0.0 END, 8) + 0.0 AS f1
FROM (
  WITH gr AS (
    SELECT doc_id, unnest({grams}) AS gram
    FROM (SELECT doc_id, {toks} AS tk FROM documents)
  ), c AS (
    SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM gr GROUP BY 1, 2
  ), tot AS (
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS t FROM c GROUP BY 1
  ), ov AS (
    SELECT p.g, CAST(SUM(LEAST(ca.cnt, cb.cnt)) AS BIGINT) AS overlap
    FROM pairs p
    JOIN c ca ON ca.doc_id = p.aid
    JOIN c cb ON cb.doc_id = p.bid AND cb.gram = ca.gram
    GROUP BY 1
  ), tots AS (
    SELECT p.g, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(SUM(tc.t) AS BIGINT) AS cand_total,
      CAST(SUM(tr.t) AS BIGINT) AS ref_total
    FROM pairs p JOIN tot tc ON tc.doc_id = p.aid JOIN tot tr ON tr.doc_id = p.bid
    GROUP BY 1
  )
  SELECT tots.g, n_pairs, COALESCE(overlap, 0) AS overlap, cand_total, ref_total
  FROM tots LEFT JOIN ov ON tots.g = ov.g
)"""

    return (
        f"""WITH pairs AS (
  SELECT a.doc_id AS aid, b.doc_id AS bid, a.source AS g
  FROM documents a JOIN documents b
    ON b.doc_id = a.doc_id + {_ROUGE_OFFSET} AND a.source = b.source
)
"""
        + arm(1, "rouge1")
        + "\nUNION ALL\n"
        + arm(2, "rouge2")
        + "\nORDER BY source, metric"
    )


_REVAL_TERMS = ["spark", "query", "window", "data"]


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR@10 / recall@10 of single-term BM25 retrieval per
    query term, with binary relevance tf ≥ 3 — the offline ranking
    eval beside ``bm25_topk``."""
    from csp_gateway_spark.operators.retrieval import retrieval_eval

    docs = _ts(spark, sf_dir, "documents")
    out = retrieval_eval(
        docs, _REVAL_TERMS, k=10, rel_tf=3,
        post=_postings(spark, sf_dir), lengths=_doc_lengths(spark, sf_dir),
    )
    return out.select(
        "term",
        "n_cand",
        "total_rel",
        "rel_at_k",
        (F.round("ndcg", 8) + F.lit(0.0)).alias("ndcg"),
        (F.round("mrr", 8) + F.lit(0.0)).alias("mrr"),
        (F.round("recall", 8) + F.lit(0.0)).alias("recall"),
    ).orderBy("term")


def _oracle_retrieval_metrics() -> str:
    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    term_list = ", ".join(f"'{t}'" for t in _REVAL_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
), dl AS (
  SELECT doc_id, len({toks}) AS dl FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE token IN ({term_list}) GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), cand AS (
  SELECT tf.token, tf.doc_id,
    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (CAST(tf AS DOUBLE) * 2.5
         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS s,
    CASE WHEN tf >= 3 THEN 1 ELSE 0 END AS rel
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
), totals AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_cand,
    CAST(SUM(rel) AS BIGINT) AS total_rel
  FROM cand GROUP BY 1
), top AS (
  SELECT token, rel, rk FROM (
    SELECT token, rel,
      row_number() OVER (PARTITION BY token ORDER BY s DESC, doc_id ASC) AS rk
    FROM cand
  ) WHERE rk <= 10
), m AS (
  SELECT token,
    list_sum(list(CAST(rel AS DOUBLE) / log2(CAST(rk AS DOUBLE) + 1.0) ORDER BY rk)) AS dcg,
    MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel,
    CAST(SUM(rel) AS BIGINT) AS rel_at_k
  FROM top GROUP BY 1
)
SELECT t.token AS term, n_cand, total_rel,
  COALESCE(rel_at_k, 0) AS rel_at_k,
  round(CASE WHEN LEAST(10, total_rel) > 0 THEN COALESCE(dcg, 0.0)
    / list_sum(list_transform(range(1, CAST(LEAST(10, total_rel) AS INT) + 1),
               i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0)))
    ELSE 0.0 END, 8) + 0.0 AS ndcg,
  round(CASE WHEN first_rel IS NOT NULL THEN 1.0 / first_rel ELSE 0.0 END, 8) + 0.0 AS mrr,
  round(CASE WHEN total_rel > 0 THEN CAST(rel_at_k AS DOUBLE) / total_rel
    ELSE 0.0 END, 8) + 0.0 AS recall
FROM totals t LEFT JOIN m ON t.token = m.token
ORDER BY term
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize per-source document lengths against the
    global length distribution (1000-point empirical reference,
    exact-integer grid mapping) — the cross-source comparability
    transform before thresholding heterogeneous quality scores."""
    from csp_gateway_spark.operators.analytics import quantile_normalize

    docs = _ts(spark, sf_dir, "documents")
    out = quantile_normalize(docs, "n_chars", "source", grid=1000)
    return out.select(
        "source",
        F.col("value").cast("long").alias("value"),
        "n",
        (F.round("frac", 8) + F.lit(0.0)).alias("frac"),
        F.col("norm_value").cast("long").alias("norm_value"),
    ).orderBy("source", "value")


ORACLE_QUANTILE_NORMALIZE = """
WITH pgv AS (
  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), t AS (
  SELECT g, v, c,
    SUM(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(c) OVER (PARTITION BY g) AS ng
  FROM pgv
), tq AS (
  SELECT g, v, c,
    CAST(2 * (cum - c) + c + 1 AS DOUBLE) / CAST(2 * ng AS DOUBLE) AS frac,
    CAST((1000 * (2 * (cum - c) + c + 1)) // (2 * ng) AS BIGINT) AS gpt
  FROM t
), pv AS (
  SELECT n_chars AS gv, CAST(count(*) AS BIGINT) AS cv
  FROM documents GROUP BY 1
), rk AS (
  SELECT gv, cv,
    SUM(cv) OVER (ORDER BY gv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
  FROM pv
), tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS N FROM pv),
ref AS (
  SELECT gv, CAST(unnest(range(
    CAST(CASE WHEN gcum - cv = 0 THEN 0
              ELSE (1000 * (gcum - cv)) // N + 1 END AS BIGINT),
    CAST((1000 * gcum) // N + 1 AS BIGINT))) AS BIGINT) AS gpt
  FROM rk, tot
)
SELECT tq.g AS source, CAST(v AS BIGINT) AS value, c AS n,
  round(frac, 8) + 0.0 AS frac, CAST(gv AS BIGINT) AS norm_value
FROM tq JOIN ref USING (gpt)
ORDER BY source, value
"""


def q_argmax_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIXTH streaming gate shape: windowed ARGMAX — a REAL streaming
    replay (6 micro-batches) maintaining per-(1-hour window,
    event_type) max(value) AND its max_by event id in the state store,
    complete mode, each batch's table replacing the landing;
    hash-equal to the batch row_number
    oracle.  max/max_by are order-independent aggregates, so the
    replay is engine-exact with no decimal detour."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def build(stream):
        return (
            stream.withColumn("_ets", F.expr("timestamp_micros(ts div 1000)"))
            .groupBy(F.window("_ets", "1 hour"), "event_type")
            .agg(
                F.max("value").alias("max_value"),
                F.max_by(
                    "event_id", F.struct(F.col("value"), F.col("event_id"))
                ).alias("max_event_id"),
            )
        )

    def finish(t):
        return t.select(
            F.col("window.start").cast("long").alias("bucket_start"),
            "event_type",
            "max_value",
            "max_event_id",
        ).orderBy("bucket_start", "event_type")

    return _stream_replay(
        spark, "astream", ev, _hash_split(ev, 6), build, finish, mode="complete"
    ).orderBy("bucket_start", "event_type")


ORACLE_ARGMAX_STREAM_REPLAY = """
SELECT bucket_start, event_type, value AS max_value, event_id AS max_event_id
FROM (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start, event_type,
         value, event_id,
         row_number() OVER (
           PARTITION BY epoch_ns(ts) // 3600000000000, event_type
           ORDER BY value DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY bucket_start, event_type
"""


def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive STL-style decomposition of daily order revenue:
    centered 7-day MA trend, zero-centered weekday seasonal,
    residual — explode-offset windows, pinned-order folds."""
    from csp_gateway_spark.operators.analytics import stl_decompose

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = stl_decompose(base, "day", "o_totalprice", period=7, ma=7)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round("value", 2) + F.lit(0.0)).alias("value"),
        (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
        F.col("weekday").cast("long").alias("weekday"),
        (F.round("seasonal", 6) + F.lit(0.0)).alias("seasonal"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"),
    ).orderBy("day")


_STL_ORACLE_CORE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
), tr AS (
  SELECT day, CAST(v AS DOUBLE) AS vd,
    CAST(COUNT(*) OVER win AS BIGINT) AS cnt,
    CAST(SUM(v) OVER win AS DOUBLE) / 7.0 AS trend
  FROM daily
  WINDOW win AS (ORDER BY day RANGE BETWEEN INTERVAL 3 DAYS PRECEDING
                 AND INTERVAL 3 DAYS FOLLOWING)
), base AS (
  SELECT day, vd, trend, vd - trend AS dt,
         CAST(dayofweek(day) AS BIGINT) AS wd
  FROM tr WHERE cnt = 7
), sw AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS nw,
    list_sum(list(dt ORDER BY day)) AS sww
  FROM base GROUP BY 1
), rs AS (SELECT wd, sww / nw AS sj FROM sw),
ctr AS (SELECT list_sum(list(sj ORDER BY wd)) / count(*) AS mean_s FROM rs),
seas AS (SELECT wd, sj - mean_s AS seasonal FROM rs, ctr)
"""

ORACLE_STL_DECOMPOSE = (
    _STL_ORACLE_CORE
    + """
SELECT strftime(b.day, '%Y-%m-%d') AS day,
  round(vd, 2) + 0.0 AS value,
  round(trend, 6) + 0.0 AS trend,
  b.wd AS weekday,
  round(seasonal, 6) + 0.0 AS seasonal,
  round(dt - seasonal, 6) + 0.0 AS residual
FROM base b JOIN seas USING (wd) ORDER BY day
"""
)


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly days on daily order revenue:
    |z| > 2.5 of the STL residual — the calendar-aware screen beside
    the plain ``anomaly_days`` z-test."""
    from csp_gateway_spark.operators.analytics import seasonal_anomaly

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = seasonal_anomaly(base, "day", "o_totalprice", threshold=2.5)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round("value", 2) + F.lit(0.0)).alias("value"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    ).orderBy("day")


ORACLE_SEASONAL_ANOMALY = (
    _STL_ORACLE_CORE
    + """
, res AS (
  SELECT b.day, vd, dt - seasonal AS r
  FROM base b JOIN seas USING (wd)
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    list_sum(list(r ORDER BY day)) AS sr,
    list_sum(list(r * r ORDER BY day)) AS srr
  FROM res
), st AS (
  SELECT n, sr / n AS mu,
    sqrt((srr - sr * sr / n) / (CAST(n AS DOUBLE) - 1.0)) AS sd
  FROM mom
)
SELECT strftime(day, '%Y-%m-%d') AS day,
  round(vd, 2) + 0.0 AS value,
  round(r, 6) + 0.0 AS residual,
  round((r - mu) / sd, 6) + 0.0 AS z
FROM res, st WHERE abs((r - mu) / sd) > 2.5
ORDER BY day
"""
)


def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF + PACF of daily order revenue at lags 1..7 (Durbin-Levinson
    on the packed exact-moment autocorrelations) — the Box-Jenkins
    identification readout beside ``lag_corr`` / ``ewma_forecast``."""
    from csp_gateway_spark.operators.analytics import pacf

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = pacf(base, "day", "o_totalprice", max_lag=7)
    return out.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (F.round("acf", 8) + F.lit(0.0)).alias("acf"),
        (F.round("pacf", 8) + F.lit(0.0)).alias("pacf"),
    ).orderBy("lag")


ORACLE_PACF = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(v) AS s,
         SUM(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(38,4))) AS ss
  FROM daily
), yb AS (
  SELECT n, CAST(s AS DOUBLE) / n AS ybar, CAST(ss AS DOUBLE) AS ssd FROM tot
), lags AS (
  SELECT k, CAST(count(*) AS BIGINT) AS nk,
    SUM(l.v) AS sl, SUM(r.v) AS sr,
    SUM(CAST(CAST(l.v AS DECIMAL(19,2)) * r.v AS DECIMAL(38,4))) AS slr
  FROM daily l, (SELECT CAST(unnest(range(1, 8)) AS INT) AS k) ks, daily r
  WHERE r.day = l.day + k
  GROUP BY 1
), racf AS (
  SELECT k, nk,
    (CAST(slr AS DOUBLE) - ybar * CAST(sr AS DOUBLE)
       - ybar * CAST(sl AS DOUBLE) + nk * ybar * ybar)
    / (ssd - n * ybar * ybar) AS r
  FROM lags, yb
), rarr AS (
  SELECT list(r ORDER BY k) AS rr FROM racf
), dl AS (
  SELECT 1 AS k, [rr[1]] AS phi, [rr[1]] AS pacf FROM rarr
  UNION ALL
  SELECT k + 1,
    list_append(
      list_transform(range(1, k + 1),
        j -> phi[CAST(j AS INT)] - A * phi[CAST(k + 1 - j AS INT)]),
      A),
    list_append(pacf, A)
  FROM (
    SELECT d.k, d.phi, d.pacf,
      (rr[d.k + 1]
       - list_sum(list_transform(range(1, d.k + 1),
           j -> d.phi[CAST(j AS INT)] * rr[CAST(d.k + 1 - j AS INT)])))
      / (1.0
       - list_sum(list_transform(range(1, d.k + 1),
           j -> d.phi[CAST(j AS INT)] * rr[CAST(j AS INT)]))) AS A,
      rr
    FROM dl d, rarr WHERE d.k < 7
  )
), final AS (
  SELECT pacf FROM dl WHERE k = 7
)
SELECT CAST(racf.k AS BIGINT) AS lag, nk AS n_pairs,
  round(r, 8) + 0.0 AS acf,
  round(final.pacf[CAST(racf.k AS INT)], 8) + 0.0 AS pacf
FROM racf, final ORDER BY lag
"""


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair
    over the top-50 word z-scored frequencies — template/authorship
    drift across corpus slices."""
    from csp_gateway_spark.operators.corpus import burrows_delta

    docs = _ts(spark, sf_dir, "documents")
    counts = _src_tok_counts(spark, sf_dir).select(
        F.col("token").alias("_w"),
        F.col("source").alias("_g"),
        F.col("_c").cast("long").alias("_c"),
    )
    out = burrows_delta(docs, top_v=50, counts=counts)
    return out.select(
        "source_a",
        "source_b",
        (F.round("delta", 8) + F.lit(0.0)).alias("delta"),
    ).orderBy("source_a", "source_b")


def _oracle_burrows_delta() -> str:
    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    return f"""
WITH toks AS (
  SELECT source AS g, unnest({toks}) AS w FROM documents
), totals AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1
), counts AS (
  SELECT w, g, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT w FROM (SELECT w, count(*) AS tc FROM toks GROUP BY 1)
  ORDER BY tc DESC, w ASC LIMIT 50
), freq AS (
  SELECT v.w, t.g, CAST(COALESCE(c.c, 0) AS DOUBLE) / t.n AS f
  FROM vocab v CROSS JOIN totals t
  LEFT JOIN counts c ON c.w = v.w AND c.g = t.g
), pw AS (
  SELECT w, CAST(count(*) AS BIGINT) AS k,
    list_sum(list(f ORDER BY g)) AS s,
    list_sum(list(f * f ORDER BY g)) AS s2
  FROM freq GROUP BY 1
), st AS (
  SELECT w, s / k AS mu,
    sqrt((s2 - s * s / k) / (CAST(k AS DOUBLE) - 1.0)) AS sd
  FROM pw
), z AS (
  SELECT freq.w, g,
    CASE WHEN sd > 0 THEN (f - mu) / sd ELSE 0.0 END AS z
  FROM freq JOIN st ON freq.w = st.w
), p AS (
  SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS nv,
    list_sum(list(abs(a.z - b.z) ORDER BY a.w)) AS sm
  FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
  GROUP BY 1, 2
)
SELECT ga AS source_a, gb AS source_b, round(sm / nv, 8) + 0.0 AS delta
FROM p ORDER BY 1, 2
"""


def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill power-law tail index of line extended prices over the
    top-200 order statistics — the heavy-tail diagnostic beside
    ``zipf_fit``."""
    from csp_gateway_spark.operators.analytics import hill_tail

    li = _t(spark, sf_dir, "lineitem")
    out = hill_tail(li, "l_extendedprice", k=200)
    return out.select(
        "k",
        (F.round("x_kplus1", 2) + F.lit(0.0)).alias("x_kplus1"),
        (F.round("hill_alpha", 8) + F.lit(0.0)).alias("hill_alpha"),
    )


ORACLE_HILL_TAIL = """
WITH top AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_extendedprice > 0 ORDER BY v DESC LIMIT 201
), packed AS (SELECT list(v ORDER BY v DESC) AS z FROM top)
SELECT CAST(200 AS BIGINT) AS k,
  round(z[201], 2) + 0.0 AS x_kplus1,
  round(1.0 / (list_sum(list_transform(z[1:200], x -> ln(x) - ln(z[201]))) / 200.0),
        8) + 0.0 AS hill_alpha
FROM packed
"""


def q_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source code-switching share: documents matching marker
    stopwords of 2+ languages — the mixed-language screen before
    per-language splits."""
    from csp_gateway_spark.operators.text import code_switch

    docs = _ts(spark, sf_dir, "documents")
    out = code_switch(docs)
    return out.select(
        "source",
        "n_docs",
        "n_multilang",
        (F.round("share", 8) + F.lit(0.0)).alias("share"),
    ).orderBy("source")


def _oracle_code_switch() -> str:
    from csp_gateway_spark.operators.text import LANG_MARKERS

    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    hits = []
    for lang in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hits.append(
            f"CASE WHEN len(list_intersect(list_distinct(tk), [{lst}])) >= 2"
            f" THEN 1 ELSE 0 END AS h_{lang}"
        )
    total = " + ".join(f"h_{lang}" for lang in sorted(LANG_MARKERS))
    return f"""
WITH d AS (SELECT source, {toks} AS tk FROM documents),
h AS (SELECT source, {', '.join(hits)} FROM d)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN {total} >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multilang,
  round(CAST(SUM(CASE WHEN {total} >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 8) + 0.0 AS share
FROM h GROUP BY 1 ORDER BY 1
"""


def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality contract gate over lineitem (+ referential check
    against orders): five named expectations evaluated in one scan,
    per-rule violation counts and pass rates."""
    from csp_gateway_spark.operators.analytics import expectations_report

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left")
    out = expectations_report(
        j,
        {
            "enum_returnflag": F.col("l_returnflag").isin("A", "N", "R"),
            "positive_price": F.col("l_extendedprice") > 0,
            "qty_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "ref_order_exists": F.col("o_orderkey").isNotNull(),
            "ship_after_order": F.col("l_shipdate") >= F.col("o_orderdate"),
        },
    )
    return out.select(
        "rule",
        "checked",
        "violations",
        (F.round("pass_rate", 8) + F.lit(0.0)).alias("pass_rate"),
    ).orderBy("rule")


def _oracle_expectations_report() -> str:
    rules = {
        "enum_returnflag": "l_returnflag IN ('A', 'N', 'R')",
        "positive_price": "l_extendedprice > 0",
        "qty_range": "l_quantity >= 1 AND l_quantity <= 50",
        "ref_order_exists": "o_orderkey IS NOT NULL",
        "ship_after_order": "l_shipdate >= o_orderdate",
    }
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, n AS checked, v_{name} AS violations,"
        f" round(CAST(n - v_{name} AS DOUBLE) / n, 8) + 0.0 AS pass_rate FROM s"
        for name in sorted(rules)
    )
    viol = ", ".join(
        f"CAST(SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS BIGINT) AS v_{name}"
        for name, cond in sorted(rules.items())
    )
    return f"""
WITH j AS (
  SELECT l.*, o.o_orderkey, o.o_orderdate
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
), s AS (SELECT CAST(count(*) AS BIGINT) AS n, {viol} FROM j)
{arms}
ORDER BY rule
"""


_FDR_Q = 0.2


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over the per-nation 'urgent order share'
    test family (z against the global share, logistic pseudo-p) —
    the multiple-testing correction after a segment sweep."""
    from csp_gateway_spark.operators.analytics import fdr_bh

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    per = j.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias("_u"),
    )
    # totals aggregate the base join directly (NOT per) — deriving the
    # 1-row frame from `per` would make the crossJoin a self-join with
    # ambiguous `_n`/`_u` lineage
    tot = j.agg(
        F.count(F.lit(1)).cast("long").alias("_tot_n"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias("_tot_u"),
    )
    p0 = F.col("_tot_u").cast("double") / F.col("_tot_n").cast("double")
    pi = F.col("_u").cast("double") / F.col("_n").cast("double")
    z = (pi - p0) / F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("_n").cast("double"))
    scored = per.crossJoin(F.broadcast(tot)).select(
        F.col("nation").cast("long").alias("nation"),
        (F.lit(2.0) / (F.lit(1.0) + F.exp(F.abs(z)))).alias("pseudo_p"),
    )
    out = fdr_bh(scored, "nation", "pseudo_p", q=_FDR_Q)
    return out.select(
        "nation",
        (F.round("p", 8) + F.lit(0.0)).alias("p"),
        "rank",
        "rejected",
    ).orderBy("rank")


ORACLE_FDR_BH = f"""
WITH per AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
    CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS u
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(u) AS BIGINT) AS uu FROM per),
scored AS (
  SELECT nation,
    2.0 / (1.0 + exp(abs(
      (CAST(u AS DOUBLE) / CAST(n AS DOUBLE) - CAST(uu AS DOUBLE) / CAST(nn AS DOUBLE))
      / sqrt(CAST(uu AS DOUBLE) / CAST(nn AS DOUBLE)
             * (1.0 - CAST(uu AS DOUBLE) / CAST(nn AS DOUBLE))
             / CAST(n AS DOUBLE))))) AS p
  FROM per, tot
), ranked AS (
  SELECT nation, p,
    CAST(row_number() OVER (ORDER BY p ASC, nation ASC) AS BIGINT) AS rank,
    CAST(count(*) OVER () AS BIGINT) AS m
  FROM scored
), cut AS (
  SELECT COALESCE(MAX(rank), 0) AS imax FROM ranked
  WHERE p <= {_FDR_Q} * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)
)
SELECT nation, round(p, 8) + 0.0 AS p, rank, rank <= imax AS rejected
FROM ranked, cut ORDER BY rank
"""


def q_ar_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-step AR(7) forecast of daily order revenue — Yule-Walker via
    Durbin-Levinson on the exact-moment ACF, recursive readout from
    the last 7 observed days (the autoregressive sibling of
    ``holt_forecast`` / ``ewma_forecast``)."""
    from csp_gateway_spark.operators.analytics import ar_forecast

    orders = _t(spark, sf_dir, "orders")
    base = _dr(spark, sf_dir, "day", "o_totalprice", date_key=True)
    out = ar_forecast(base, "day", "o_totalprice", p=7, horizon=7)
    return out.select(
        "h", (F.round("forecast", 4) + F.lit(0.0)).alias("forecast")
    ).orderBy("h")


ORACLE_AR_FORECAST = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(v) AS s,
         SUM(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(38,4))) AS ss
  FROM daily
), yb AS (
  SELECT n, CAST(s AS DOUBLE) / n AS ybar, CAST(ss AS DOUBLE) AS ssd FROM tot
), lags AS (
  SELECT k, CAST(count(*) AS BIGINT) AS nk,
    SUM(l.v) AS sl, SUM(r.v) AS sr,
    SUM(CAST(CAST(l.v AS DECIMAL(19,2)) * r.v AS DECIMAL(38,4))) AS slr
  FROM daily l, (SELECT CAST(unnest(range(1, 8)) AS INT) AS k) ks, daily r
  WHERE r.day = l.day + k
  GROUP BY 1
), racf AS (
  SELECT k, nk,
    (CAST(slr AS DOUBLE) - ybar * CAST(sr AS DOUBLE)
       - ybar * CAST(sl AS DOUBLE) + nk * ybar * ybar)
    / (ssd - n * ybar * ybar) AS r
  FROM lags, yb
), rarr AS (
  SELECT list(r ORDER BY k) AS rr FROM racf
), dl AS (
  SELECT 1 AS k, [rr[1]] AS phi FROM rarr
  UNION ALL
  SELECT k + 1,
    list_append(
      list_transform(range(1, k + 1),
        j -> phi[CAST(j AS INT)] - A * phi[CAST(k + 1 - j AS INT)]),
      A)
  FROM (
    SELECT d.k, d.phi,
      (rr[d.k + 1]
       - list_sum(list_transform(range(1, d.k + 1),
           j -> d.phi[CAST(j AS INT)] * rr[CAST(d.k + 1 - j AS INT)])))
      / (1.0
       - list_sum(list_transform(range(1, d.k + 1),
           j -> d.phi[CAST(j AS INT)] * rr[CAST(j AS INT)]))) AS A,
      rr
    FROM dl d, rarr WHERE d.k < 7
  )
), phif AS (
  SELECT phi FROM dl WHERE k = 7
), lastv AS (
  SELECT list_transform(
    list(struct_pack(day := day, vd := CAST(v AS DOUBLE)) ORDER BY day DESC),
    x -> x.vd) AS lv
  FROM (SELECT day, v FROM daily ORDER BY day DESC LIMIT 7)
), st0 AS (
  SELECT list_transform(lv, x -> x - ybar) AS st, ybar FROM lastv, yb
), fc AS (
  SELECT 0 AS h, st, CAST([] AS DOUBLE[]) AS outv, ybar FROM st0
  UNION ALL
  SELECT h + 1,
    list_prepend(pred, st[1:6]),
    list_append(outv, pred),
    ybar
  FROM (
    SELECT f.h, f.st, f.outv, f.ybar,
      list_sum(list_transform(range(1, 8),
        j -> p.phi[CAST(j AS INT)] * f.st[CAST(j AS INT)])) AS pred
    FROM fc f, phif p WHERE f.h < 7
  )
), final AS (
  SELECT outv, ybar FROM fc WHERE h = 7
)
SELECT CAST(u.i AS BIGINT) AS h,
  round(u.pred + ybar, 4) + 0.0 AS forecast
FROM (
  SELECT unnest(outv) AS pred, generate_subscripts(outv, 1) AS i, ybar
  FROM final
) u
ORDER BY h
"""


def q_identity_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-key identity stitching: users sharing a signup attribute
    (the JSON ``k`` prop of their high-value signups) merge into
    one identity cluster via
    connected components over the user↔attribute bipartite graph —
    the device-graph / household-resolution shape, reusing the
    pointer-jumping min-label CC (corpus.py::connected_components,
    citing csp_gateway's keyed-identity lookup surface).  Per
    component: user and attribute counts."""
    from csp_gateway_spark.operators.corpus import connected_components

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    edges = (
        ev.filter((F.col("event_type") == "signup") & (F.col("value") > 90.0))
        .select(
            (F.col("user_id") * 2).alias("id_a"),
            (k * 2 + 1).alias("id_b"),
        )
        .distinct()
    )
    cc = connected_components(edges)
    out = cc.groupBy("component").agg(
        F.sum((F.col("node") % 2 == 0).cast("long")).alias("n_users"),
        F.sum((F.col("node") % 2 == 1).cast("long")).alias("n_attrs"),
    )
    return out.select(
        F.col("component").cast("long").alias("component"),
        "n_users",
        "n_attrs",
    ).orderBy("component")


ORACLE_IDENTITY_STITCH = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT CAST(user_id * 2 AS BIGINT) AS a,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1 AS BIGINT) AS b
  FROM events WHERE event_type = 'signup' AND value > 90.0
), und AS (
  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
), nodes AS (
  SELECT DISTINCT a AS n FROM und
), cc AS (
  SELECT n, n AS lbl FROM nodes
  UNION
  SELECT u.b AS n, c.lbl FROM cc c JOIN und u ON u.a = c.n WHERE c.lbl < u.b
), lab AS (
  SELECT n, MIN(lbl) AS component FROM cc GROUP BY 1
)
SELECT component,
  CAST(SUM(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_attrs
FROM lab GROUP BY 1 ORDER BY 1
"""


_MMR_LAM = 0.7
_MMR_K = 5
_MMR_POOL = 12


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification of each query term's BM25 top-12 pool:
    greedy top-5 by λ·relevance − (1−λ)·max token-set Jaccard to the
    already-selected — the RAG context-packing rerank, run as a
    bounded array fold on ONE packed row per term."""
    from csp_gateway_spark.operators.retrieval import mmr_rerank

    docs = _ts(spark, sf_dir, "documents")
    out = mmr_rerank(
        docs, _REVAL_TERMS, k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM,
        post=_postings(spark, sf_dir), lengths=_doc_lengths(spark, sf_dir),
    )
    return out.select(
        "term",
        "rank",
        "doc_id",
        (F.round("mmr", 8) + F.lit(0.0)).alias("mmr"),
    ).orderBy("term", "rank")


def _oracle_mmr_rerank() -> str:
    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    term_list = ", ".join(f"'{t}'" for t in _REVAL_TERMS)
    lam, mlam = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    jac = (
        "len(list_intersect(z[CAST(i AS INT)].tk, z[CAST(j AS INT)].tk))"
        " / (len(z[CAST(i AS INT)].tk) + len(z[CAST(j AS INT)].tk)"
        " - len(list_intersect(z[CAST(i AS INT)].tk, z[CAST(j AS INT)].tk)))"
    )
    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
), dl AS (
  SELECT doc_id, len({toks}) AS dl FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE token IN ({term_list}) GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), cand AS (
  SELECT tf.token, tf.doc_id,
    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (CAST(tf AS DOUBLE) * 2.5
         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS s
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
), top AS (
  SELECT token, doc_id, s, rk FROM (
    SELECT token, doc_id, s,
      row_number() OVER (PARTITION BY token ORDER BY s DESC, doc_id ASC) AS rk
    FROM cand
  ) WHERE rk <= {_MMR_POOL}
), tks AS (
  SELECT doc_id, list_distinct({toks}) AS tk FROM documents
), packed AS (
  SELECT token,
    list(struct_pack(rk := rk, id := doc_id, s := s, tk := tk) ORDER BY rk) AS z
  FROM top JOIN tks USING (doc_id) GROUP BY 1
), mm AS (
  SELECT token, 0 AS step, CAST([] AS INT[]) AS sel,
    CAST([] AS STRUCT(rank INT, doc_id BIGINT, mmr DOUBLE)[]) AS outv, z
  FROM packed
  UNION ALL
  SELECT token, step + 1,
    list_append(sel, best.idx),
    list_append(outv, struct_pack(
      rank := CAST(step + 1 AS INT), doc_id := best.did, mmr := -best.negmmr)),
    z
  FROM (
    SELECT token, step, sel, outv, z,
      list_min(list_transform(
        list_filter(range(1, len(z) + 1),
                    i -> NOT list_contains(sel, CAST(i AS INT))),
        i -> struct_pack(
          negmmr := -({lam} * z[CAST(i AS INT)].s
            - {mlam} * (CASE WHEN len(sel) = 0 THEN 0.0
                ELSE list_max(list_transform(sel, j -> {jac})) END)),
          did := z[CAST(i AS INT)].id,
          idx := CAST(i AS INT)))) AS best
    FROM mm WHERE step < LEAST({_MMR_K}, len(z))
  )
), final AS (
  SELECT token, outv FROM mm WHERE step = LEAST({_MMR_K}, len(z))
)
SELECT token AS term, u.rank AS rank, u.doc_id AS doc_id,
  round(u.mmr, 8) + 0.0 AS mmr
FROM (SELECT token, unnest(outv) AS u FROM final)
ORDER BY term, rank
"""


_TCLOSE_T = 0.05


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of order priorities within (mktsegment ×
    nation) quasi-identifier groups — completes the k-anonymity /
    l-diversity / t-closeness privacy triad."""
    from csp_gateway_spark.operators.analytics import t_closeness

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment", "c_nationkey")),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "o_orderpriority",
    )
    out = t_closeness(j, ["segment", "nationkey"], "o_orderpriority", t=_TCLOSE_T)
    return out.select(
        "segment",
        "nationkey",
        "k_count",
        (F.round("emd", 8) + F.lit(0.0)).alias("emd"),
        "violates_t",
    ).orderBy("segment", "nationkey")


ORACLE_T_CLOSENESS = f"""
WITH j AS (
  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nk,
         o_orderpriority AS cat
  FROM orders JOIN customer ON o_custkey = c_custkey
), cells AS (
  SELECT seg, nk, cat, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2, 3
), gtot AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS gc FROM j GROUP BY 1
), gall AS (SELECT CAST(count(*) AS BIGINT) AS N FROM j),
groups AS (
  SELECT seg, nk, CAST(SUM(c) AS BIGINT) AS k_count FROM cells GROUP BY 1, 2
), grid AS (
  SELECT g.seg, g.nk, g.k_count, t.cat, t.gc, a.N
  FROM groups g CROSS JOIN gtot t CROSS JOIN gall a
), filled AS (
  SELECT grid.seg, grid.nk, grid.k_count, grid.cat, grid.gc, grid.N,
         COALESCE(c.c, 0) AS c
  FROM grid LEFT JOIN cells c
    ON c.seg = grid.seg AND c.nk = grid.nk AND c.cat = grid.cat
), per AS (
  SELECT seg, nk, k_count, CAST(count(*) AS BIGINT) AS m,
    list_transform(
      list(struct_pack(cat := cat,
           d := CAST(c AS DOUBLE) / k_count - CAST(gc AS DOUBLE) / N)
           ORDER BY cat),
      x -> x.d) AS ds
  FROM filled GROUP BY 1, 2, 3
), emd AS (
  SELECT seg, nk, k_count,
    CASE WHEN m > 1 THEN
      list_sum(list_transform(range(1, CAST(m AS INT) + 1),
        k -> abs(list_sum(ds[1:CAST(k AS INT)]))))
      / (CAST(m AS DOUBLE) - 1.0)
    ELSE 0.0 END AS e
  FROM per
)
SELECT seg AS segment, nk AS nationkey, k_count,
  round(e, 8) + 0.0 AS emd,
  e > {_TCLOSE_T} AS violates_t
FROM emd ORDER BY segment, nationkey
"""


_KC_K = 6
_KC_DIM = 64


def q_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity sample of the embedding corpus
    (farthest-point traversal, Gonzalez 2-approx) — the coreset
    selection a curation run uses for eval probes / annotation
    batches.  Every distance is an exact floor(x*1e6) integer, so the
    greedy chain (where one FP-different pick would cascade) is
    hash-checked against the oracle's unrolled rounds, not
    rows-only."""
    from csp_gateway_spark.operators.similarity import kcenter_sample

    emb = _ts(spark, sf_dir, "embeddings")
    return kcenter_sample(emb, k=_KC_K).orderBy("sel_round")


def _oracle_kcenter_sample() -> str:
    """Unrolled greedy rounds: c1 = min id; m_r carries each surviving
    point's EXACT running min squared distance to the chosen set;
    c_{r+1} = argmax (d DESC, vec_id ASC) — the same integer
    arithmetic as the operator."""
    dim, k = _KC_DIM, _KC_K
    # DuckDB lambdas cannot capture outer columns through a scalar
    # subquery — each round's 1-row chosen center CROSS JOINs in so the
    # lambda sees both sides directly
    d_expr = (
        "CAST(list_sum(list_transform(range(1, %d + 1), "
        "i -> (v.q[CAST(i AS INT)] - c.q[CAST(i AS INT)])"
        " * (v.q[CAST(i AS INT)] - c.q[CAST(i AS INT)]))) AS BIGINT)" % dim
    )
    parts = [
        "WITH q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q FROM embeddings),",
        "c1 AS (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT 1),",
        f"m1 AS (SELECT v.vec_id, v.q, {d_expr} AS d"
        " FROM q v CROSS JOIN c1 c WHERE v.vec_id != c.vec_id),",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"c{r} AS (SELECT vec_id, q, d FROM m{r-1}"
            " ORDER BY d DESC, vec_id ASC LIMIT 1),"
        )
        if r < k:
            parts.append(
                f"m{r} AS (SELECT v.vec_id, v.q,"
                f" LEAST(v.d, {d_expr}) AS d"
                f" FROM m{r-1} v CROSS JOIN c{r} c WHERE v.vec_id != c.vec_id),"
            )
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        "SELECT 1 AS sel_round, CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(0 AS BIGINT) AS d2_scaled FROM c1"
    ]
    for r in range(2, k + 1):
        selects.append(
            f"SELECT {r}, CAST(vec_id AS BIGINT), CAST(d AS BIGINT) FROM c{r}"
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(selects) + "\nORDER BY sel_round"


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned Brier score of the
    normalized-length 'English document' forecast — the calibration
    summary beside ``calibration`` / ``isotonic_calibration``."""
    from csp_gateway_spark.operators.analytics import brier_decomposition

    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("n_chars") / F.lit(600.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = brier_decomposition(scored, "score", "label", bins=20)
    return out.select(
        "n",
        (F.round("reliability", 8) + F.lit(0.0)).alias("reliability"),
        (F.round("resolution", 8) + F.lit(0.0)).alias("resolution"),
        (F.round("uncertainty", 8) + F.lit(0.0)).alias("uncertainty"),
        (F.round("brier_binned", 8) + F.lit(0.0)).alias("brier_binned"),
    )


ORACLE_BRIER_DECOMPOSITION = """
WITH cells AS (
  SELECT GREATEST(LEAST(CAST(floor((n_chars / 600.0) * 20) AS INT), 19), 0) AS b,
         CAST(count(*) AS BIGINT) AS w,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS N,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS P
  FROM documents
), terms AS (
  SELECT b,
    CAST(w AS DOUBLE)
      * (CAST(s AS DOUBLE) / CAST(w AS DOUBLE) - (CAST(b AS DOUBLE) + 0.5) / 20.0)
      * (CAST(s AS DOUBLE) / CAST(w AS DOUBLE) - (CAST(b AS DOUBLE) + 0.5) / 20.0) AS rel,
    CAST(w AS DOUBLE)
      * (CAST(s AS DOUBLE) / CAST(w AS DOUBLE) - CAST(P AS DOUBLE) / CAST(N AS DOUBLE))
      * (CAST(s AS DOUBLE) / CAST(w AS DOUBLE) - CAST(P AS DOUBLE) / CAST(N AS DOUBLE)) AS res
  FROM cells, tot
), folded AS (
  SELECT list_sum(list(rel ORDER BY b)) AS srel,
         list_sum(list(res ORDER BY b)) AS sres
  FROM terms
)
SELECT N AS n,
  round(srel / N, 8) + 0.0 AS reliability,
  round(sres / N, 8) + 0.0 AS resolution,
  round((CAST(P AS DOUBLE) / N) * (1.0 - CAST(P AS DOUBLE) / N), 8) + 0.0 AS uncertainty,
  round(srel / N - sres / N
        + (CAST(P AS DOUBLE) / N) * (1.0 - CAST(P AS DOUBLE) / N), 8) + 0.0 AS brier_binned
FROM folded, tot
"""


# ---------------------------------------------------------------------------
# WAVE 23 (round 11) — agreement / concordance / distribution-shape /
# momentum / graph-centrality / corpus-diversity additions
# ---------------------------------------------------------------------------


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over four lineitem 'item' signals — the
    internal-consistency gate before collapsing several quality
    signals into one composite score.  All moments exact decimal; the
    k-term variance sum folds left-to-right in column order."""
    from csp_gateway_spark.operators.analytics import cronbach_alpha

    li = _t(spark, sf_dir, "lineitem")
    item_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    sums = _li_moments(spark, sf_dir).select(
        "_n",
        *[
            c
            for i, col in enumerate(item_cols)
            for c in (
                F.col(f"_s_{col}").alias(f"_s{i}"),
                F.col(f"_ss_{col}").alias(f"_q{i}"),
            )
        ],
        F.col("_st4").alias("_st"),
        F.col("_qt4").alias("_qt"),
    )
    out = cronbach_alpha(li, item_cols, sums=sums)
    return out.select(
        "n",
        "k",
        (F.round("item_var_sum", 4) + F.lit(0.0)).alias("item_var_sum"),
        (F.round("total_var", 4) + F.lit(0.0)).alias("total_var"),
        (F.round("alpha", 6) + F.lit(0.0)).alias("alpha"),
    )


ORACLE_CRONBACH_ALPHA = """
WITH base AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x0,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS x1,
         CAST(l_discount AS DECIMAL(18,2)) AS x2,
         CAST(l_tax AS DECIMAL(18,2)) AS x3,
         CAST(CAST(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(25,2))
              + CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(25,2))
              + CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(25,2))
              + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(25,2)) AS tt
  FROM lineitem
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(x0 AS DECIMAL(38,2))) AS s0,
    SUM(CAST(CAST(x0 AS DECIMAL(19,2)) * CAST(x0 AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS q0,
    SUM(CAST(x1 AS DECIMAL(38,2))) AS s1,
    SUM(CAST(CAST(x1 AS DECIMAL(19,2)) * CAST(x1 AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS q1,
    SUM(CAST(x2 AS DECIMAL(38,2))) AS s2,
    SUM(CAST(CAST(x2 AS DECIMAL(19,2)) * CAST(x2 AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS q2,
    SUM(CAST(x3 AS DECIMAL(38,2))) AS s3,
    SUM(CAST(CAST(x3 AS DECIMAL(19,2)) * CAST(x3 AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS q3,
    SUM(CAST(tt AS DECIMAL(38,2))) AS st,
    SUM(CAST(CAST(tt AS DECIMAL(19,2)) * CAST(tt AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS qt
  FROM base
), v AS (
  SELECT n,
    CAST(n AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
    + (CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
    + (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
    + (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)) AS item_sum,
    CAST(n AS DOUBLE) * CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) AS total_num,
    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) AS denom
  FROM s
)
SELECT n, CAST(4 AS BIGINT) AS k,
  round(item_sum / denom, 4) + 0.0 AS item_var_sum,
  round(total_num / denom, 4) + 0.0 AS total_var,
  round(CASE WHEN total_num > 0
        THEN (4.0 / 3.0) * (1.0 - item_sum / total_num) END, 6) + 0.0 AS alpha
FROM v
"""


def q_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1) of line price by supplier — how much of price variance
    is 'which supplier' (rater-agreement form of anova_f); exact
    moments + group-sorted fold, one double expression each output."""
    from csp_gateway_spark.operators.analytics import icc_oneway

    li = _t(spark, sf_dir, "lineitem")
    out = icc_oneway(li, "l_suppkey", "l_extendedprice")
    return out.select(
        "n",
        "k",
        (F.round("msb", 2) + F.lit(0.0)).alias("msb"),
        (F.round("msw", 2) + F.lit(0.0)).alias("msw"),
        (F.round("n0", 6) + F.lit(0.0)).alias("n0"),
        (F.round("icc", 6) + F.lit(0.0)).alias("icc"),
    )


ORACLE_ICC_ONEWAY = """
WITH per AS (
  SELECT l_suppkey AS g, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sg,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))
        AS DECIMAL(38,4))) AS ssg
  FROM lineitem GROUP BY 1
), t AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
    SUM(sg) AS s, SUM(ssg) AS ss,
    SUM(CAST(CAST(ng AS DECIMAL(19,0)) * CAST(ng AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS n2,
    list_reduce(list_transform(
      list(struct_pack(g := g,
                       term := CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
           ORDER BY g),
      x -> x.term), (a, b) -> a + b) AS bt
  FROM per
), f AS (
  SELECT n, k,
    (bt - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(k AS DOUBLE) - 1.0) AS msb,
    (CAST(ss AS DOUBLE) - bt) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
    (CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(k AS DOUBLE) - 1.0) AS n0
  FROM t
)
SELECT n, k,
  round(msb, 2) + 0.0 AS msb,
  round(msw, 2) + 0.0 AS msw,
  round(n0, 6) + 0.0 AS n0,
  round(CASE WHEN msb + (n0 - 1.0) * msw != 0
        THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END, 6) + 0.0 AS icc
FROM f
"""


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: does monthly revenue rank the five order
    priorities consistently?  Blocks = months, treatments =
    priorities; doubled midranks keep every term exact-integer."""
    from csp_gateway_spark.operators.analytics import friedman_test

    orders = _t(spark, sf_dir, "orders")
    out = friedman_test(
        orders,
        F.date_format(F.col("o_orderdate"), "yyyy-MM"),
        "o_orderpriority",
        "o_totalprice",
    )
    return out.select(
        "n_blocks",
        "k",
        (F.round("chi2", 6) + F.lit(0.0)).alias("chi2"),
        (F.round("w", 6) + F.lit(0.0)).alias("w"),
    )


ORACLE_FRIEDMAN_TEST = """
WITH cells AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS b,
         o_orderpriority AS t,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1, 2
), kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
comp AS (
  SELECT b, t, y, COUNT(*) OVER (PARTITION BY b) AS cb FROM cells
), r AS (
  SELECT b, t,
    CAST(2 * rank() OVER (PARTITION BY b ORDER BY y)
         + COUNT(*) OVER (PARTITION BY b, y) - 1 AS BIGINT) AS r2
  FROM comp, kk WHERE cb = kk.k
), pt AS (
  SELECT t, SUM(CAST(r2 AS HUGEINT)) AS rj,
         SUM(CAST(r2 AS HUGEINT) * r2) AS rsq,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM r GROUP BY 1
), one AS (
  SELECT CAST(MAX(nb) AS BIGINT) AS n, SUM(rsq) AS a2,
         SUM(CAST(rj AS HUGEINT) * rj) AS sr2, SUM(rj) AS sr
  FROM pt
), z AS (
  SELECT n, kk.k AS k,
    CAST(sr2 AS DOUBLE)
      - 2.0 * (CAST(n AS DOUBLE) * (CAST(kk.k AS DOUBLE) + 1.0)) * CAST(sr AS DOUBLE)
      + CAST(kk.k AS DOUBLE) * (CAST(n AS DOUBLE) * (CAST(kk.k AS DOUBLE) + 1.0))
        * (CAST(n AS DOUBLE) * (CAST(kk.k AS DOUBLE) + 1.0)) AS num,
    CAST(a2 AS DOUBLE)
      - CAST(n AS DOUBLE) * CAST(kk.k AS DOUBLE) * (CAST(kk.k AS DOUBLE) + 1.0)
        * (CAST(kk.k AS DOUBLE) + 1.0) AS den
  FROM one, kk
)
SELECT n AS n_blocks, k,
  round(CASE WHEN den > 0 THEN (CAST(k AS DOUBLE) - 1.0) * num / den END, 6) + 0.0 AS chi2,
  round(CASE WHEN den > 0 AND n > 0 AND k > 1
        THEN (CAST(k AS DOUBLE) - 1.0) * num / den
             / (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)) END, 6) + 0.0 AS w
FROM z
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: did 1995 customers order in all four quarters at
    the same rate?  Blocks = customers active in 1995, treatments =
    quarters, x = ordered-that-quarter; pure integer counting."""
    from csp_gateway_spark.operators.analytics import cochran_q

    orders = _t(spark, sf_dir, "orders")
    o95 = orders.filter(F.year("o_orderdate") == 1995)
    out = cochran_q(o95, "o_custkey", F.quarter("o_orderdate"), F.lit(1))
    return out.select(
        "n_blocks",
        "k",
        (F.round("q_stat", 6) + F.lit(0.0)).alias("q_stat"),
        "df",
    )


ORACLE_COCHRAN_Q = """
WITH cells AS (
  SELECT o_custkey AS b, CAST(quarter(o_orderdate) AS INT) AS t, MAX(1) AS x
  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2
), kk AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS nb
  FROM cells
), ts AS (
  SELECT SUM(CAST(cj AS HUGEINT)) AS tt, SUM(CAST(cj AS HUGEINT) * cj) AS c2
  FROM (SELECT t, SUM(x) AS cj FROM cells GROUP BY 1)
), bs AS (
  SELECT SUM(CAST(ri AS HUGEINT) * ri) AS r2
  FROM (SELECT b, SUM(x) AS ri FROM cells GROUP BY 1)
)
SELECT kk.nb AS n_blocks, kk.k AS k,
  round(CASE WHEN CAST(kk.k AS DOUBLE) * CAST(tt AS DOUBLE) - CAST(r2 AS DOUBLE) > 0
        THEN (CAST(kk.k AS DOUBLE) - 1.0)
             * (CAST(kk.k AS DOUBLE) * CAST(c2 AS DOUBLE)
                - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE))
             / (CAST(kk.k AS DOUBLE) * CAST(tt AS DOUBLE) - CAST(r2 AS DOUBLE))
        END, 6) + 0.0 AS q_stat,
  CAST(kk.k - 1 AS BIGINT) AS df
FROM kk, ts, bs
"""


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between line quantity and discount — the
    concordance twin of spearman_corr, computed on the 550-cell joint
    frequency table instead of the O(n²) pair space."""
    from csp_gateway_spark.operators.analytics import kendall_tau

    li = _t(spark, sf_dir, "lineitem")
    out = kendall_tau(li, "l_quantity", "l_discount")
    return out.select(
        "n",
        "concordant",
        "discordant",
        (F.round("tau_b", 6) + F.lit(0.0)).alias("tau_b"),
    )


ORACLE_KENDALL_TAU = """
WITH cells AS (
  SELECT l_quantity AS a, l_discount AS b, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1, 2
), pc AS (
  SELECT
    COALESCE(SUM(CASE WHEN c2.b < c1.b THEN CAST(c1.f AS HUGEINT) * c2.f END), 0) AS c,
    COALESCE(SUM(CASE WHEN c2.b > c1.b THEN CAST(c1.f AS HUGEINT) * c2.f END), 0) AS d
  FROM cells c1 JOIN cells c2 ON c2.a < c1.a
), ta AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS n1x2, SUM(CAST(t AS HUGEINT)) AS n
  FROM (SELECT SUM(f) AS t FROM cells GROUP BY a)
), tb AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS n2x2
  FROM (SELECT SUM(f) AS t FROM cells GROUP BY b)
), z AS (
  SELECT CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 AS n0,
         CAST(n1x2 AS DOUBLE) / 2.0 AS n1,
         CAST(n2x2 AS DOUBLE) / 2.0 AS n2,
         CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd,
         n, c, d
  FROM pc, ta, tb
)
SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
  round(CASE WHEN (n0 - n1) * (n0 - n2) > 0
        THEN (cd - dd) / sqrt((n0 - n1) * (n0 - n2)) END, 6) + 0.0 AS tau_b
FROM z
"""


def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises between returned ('R') and
    acknowledged ('A') line quantities — integrates EVERY ECDF gap
    (ks_test reacts only to the worst one); exact factored moments."""
    from csp_gateway_spark.operators.analytics import cvm_test

    li = _t(spark, sf_dir, "lineitem")
    out = cvm_test(li, "l_returnflag", "l_quantity", "R", "A")
    return out.select(
        "n_a",
        "n_b",
        (F.round("t_stat", 8) + F.lit(0.0)).alias("t_stat"),
    )


ORACLE_CVM_TEST = """
WITH pv AS (
  SELECT l_quantity AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), c AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM pv
), m AS (
  SELECT
    SUM(CAST(ca + cb AS HUGEINT) * cum_a * cum_a) AS A,
    SUM(CAST(ca + cb AS HUGEINT) * cum_a * cum_b) AS B,
    SUM(CAST(ca + cb AS HUGEINT) * cum_b * cum_b) AS C,
    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM c
)
SELECT na AS n_a, nb AS n_b,
  round((CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(A AS DOUBLE)
         - 2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(B AS DOUBLE)
         + CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(C AS DOUBLE))
        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
           * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
           * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))), 8) + 0.0 AS t_stat
FROM m
"""


def q_macd_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD momentum decomposition of monthly order revenue — per
    month: macd line, signal line, histogram.  One packed fold with
    pinned FP order; DuckDB mirror is a recursive CTE stepping the
    identical expressions."""
    from csp_gateway_spark.operators.analytics import macd

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.select(
        (
            (F.year("o_orderdate") - F.lit(1970)) * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).cast("long").alias("k"),
        F.col("o_totalprice").alias("y"),
    )
    out = macd(monthly, "k", "y")
    return out.select(
        "k",
        (F.round("macd", 6) + F.lit(0.0)).alias("macd"),
        (F.round("signal", 6) + F.lit(0.0)).alias("signal"),
        (F.round("histogram", 6) + F.lit(0.0)).alias("histogram"),
    ).orderBy("k")


ORACLE_MACD_SIGNAL = """
WITH RECURSIVE m AS (
  SELECT CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT k, CAST(y AS DOUBLE) AS v,
         CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS t
  FROM m
), r AS (
  SELECT t, k, v, v AS ef, v AS es,
         CAST(0.0 AS DOUBLE) AS mv, CAST(0.0 AS DOUBLE) AS g
  FROM s WHERE t = 1
  UNION ALL
  SELECT x.t, x.k, x.v, x.ef, x.es, x.ef - x.es AS mv,
         (2.0 / 10.0) * (x.ef - x.es) + (1.0 - 2.0 / 10.0) * x.g0 AS g
  FROM (
    SELECT s.t, s.k, s.v,
           (2.0 / 13.0) * s.v + (1.0 - 2.0 / 13.0) * r.ef AS ef,
           (2.0 / 27.0) * s.v + (1.0 - 2.0 / 27.0) * r.es AS es,
           r.g AS g0
    FROM r JOIN s ON s.t = r.t + 1
  ) x
)
SELECT k, round(mv, 6) + 0.0 AS macd, round(g, 6) + 0.0 AS signal,
       round(mv - g, 6) + 0.0 AS histogram
FROM r ORDER BY k
"""


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority centrality over the shared 12-gram
    similarity graph — template-core detection beside pagerank_docs.
    Integer half-steps, one final L1 normalization per axis."""
    from csp_gateway_spark.operators.corpus import hits

    edges = _snp_edges(spark, sf_dir)
    out = hits(edges, iters=2)
    return out.select(
        "node",
        (F.round("hub", 6) + F.lit(0.0)).alias("hub"),
        (F.round("auth", 6) + F.lit(0.0)).alias("auth"),
    ).orderBy("node")


def _oracle_hits_scores() -> str:
    return (
        _snp_sql_prefix()
        + """
, e0 AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM cpairs
), nodes AS (SELECT DISTINCT src AS node FROM e0),
h0 AS (SELECT node, CAST(1 AS HUGEINT) AS s FROM nodes),
a1 AS (SELECT dst AS node, SUM(h0.s) AS s FROM e0 JOIN h0 ON e0.src = h0.node GROUP BY 1),
h1 AS (SELECT src AS node, SUM(a1.s) AS s FROM e0 JOIN a1 ON e0.dst = a1.node GROUP BY 1),
a2 AS (SELECT dst AS node, SUM(h1.s) AS s FROM e0 JOIN h1 ON e0.src = h1.node GROUP BY 1),
h2 AS (SELECT src AS node, SUM(a2.s) AS s FROM e0 JOIN a2 ON e0.dst = a2.node GROUP BY 1),
th AS (SELECT SUM(s) AS t FROM h2), ta AS (SELECT SUM(s) AS t FROM a2)
SELECT nodes.node AS node,
  round(CAST(COALESCE(h2.s, 0) AS DOUBLE) / CAST(th.t AS DOUBLE), 6) + 0.0 AS hub,
  round(CAST(COALESCE(a2.s, 0) AS DOUBLE) / CAST(ta.t AS DOUBLE), 6) + 0.0 AS auth
FROM nodes LEFT JOIN h2 USING (node) LEFT JOIN a2 USING (node), th, ta
ORDER BY node
"""
    )


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distinct-n diversity (n = 1, 2, 3): distinct vs total
    token n-grams — the templated-text smell test, with shingle
    semantics shared with the dedup family."""
    from csp_gateway_spark.operators.corpus import distinct_ngrams

    docs = _ts(spark, sf_dir, "documents")
    out = distinct_ngrams(
        docs,
        gram_counts={
            1: _tok_counts(spark, sf_dir).select(
                F.col("token").alias("_s"), "_c"
            ),
            2: _bigram_cells(spark, sf_dir).select(
                F.concat_ws(" ", "w1", "w2").alias("_s"), F.col("c").alias("_c")
            ),
            3: _gram_counts3(spark, sf_dir),
        },
    )
    return out.select(
        F.col("n").cast("long").alias("n"),
        "total_ngrams",
        F.col("distinct_ngrams").cast("long").alias("distinct_ngrams"),
        (F.round("distinct_ratio", 6) + F.lit(0.0)).alias("distinct_ratio"),
    ).orderBy("n")


def _oracle_distinct_ngrams() -> str:
    parts = []
    for n in (1, 2, 3):
        parts.append(
            f"SELECT CAST({n} AS BIGINT) AS n, unnest({_sql_shingles_all(n)}) AS s FROM documents"
        )
    union = "\n  UNION ALL ".join(parts)
    return f"""
WITH g AS (
  {union}
)
SELECT n, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS distinct_ngrams,
       round(CAST(COUNT(DISTINCT s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS distinct_ratio
FROM g GROUP BY 1 ORDER BY n
"""


# ---------------------------------------------------------------------------
# WAVE 24 (round 11) — time-series diagnostics / paired tests / variance
# homogeneity / shift estimation / graph structure / corpus diversity
# ---------------------------------------------------------------------------


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation diagnostic of daily order
    revenue — exact decimal lag-1 difference sum, one double
    division."""
    from csp_gateway_spark.operators.analytics import durbin_watson

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "y", unix_key=True)
    out = durbin_watson(daily, "k", "y")
    return out.select("n", (F.round("dw", 6) + F.lit(0.0)).alias("dw"))


ORACLE_DURBIN_WATSON = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), nm AS (
  SELECT COALESCE(SUM(CAST(
           CAST(a.y - b.y AS DECIMAL(19,2)) * CAST(a.y - b.y AS DECIMAL(19,2))
         AS DECIMAL(38,4))), 0) AS num
  FROM d a JOIN (SELECT k + 1 AS k, y FROM d) b USING (k)
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(y) AS s,
    SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS ss
  FROM d
)
SELECT n,
  round(CASE WHEN (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE) > 0
        THEN CAST(num AS DOUBLE)
             / ((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
        END, 6) + 0.0 AS dw
FROM nm, t
"""


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test over monthly revenue (lags 1-12) —
    full-series-mean autocorrelations, exact lag-join moments, one
    lag-ordered fold for Q."""
    from csp_gateway_spark.operators.analytics import ljung_box

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.select(
        (
            (F.year("o_orderdate") - F.lit(1970)) * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).cast("long").alias("k"),
        F.col("o_totalprice").alias("y"),
    )
    out = ljung_box(monthly, "k", "y", max_lag=12)
    return out.select(
        "n", "m", (F.round("q_stat", 6) + F.lit(0.0)).alias("q_stat")
    )


ORACLE_LJUNG_BOX = """
WITH d AS (
  SELECT CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(y) AS s,
    SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS ss
  FROM d
), lags AS (SELECT unnest(range(1, 13)) AS lag),
pl AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS nk,
    SUM(a.y) AS sa, SUM(b.y) AS sb,
    SUM(CAST(CAST(a.y AS DECIMAL(19,2)) * CAST(b.y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS sab
  FROM lags JOIN d a ON true JOIN d b ON b.k = a.k + lag
  GROUP BY 1
), terms AS (
  SELECT lag, t.n,
    (CAST(sab AS DOUBLE)
     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
     + CAST(nk AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
    / (CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS rho,
    CAST(n AS DOUBLE) - CAST(lag AS DOUBLE) AS nml
  FROM pl, t
), folded AS (
  SELECT MAX(n) AS n, CAST(count(*) AS BIGINT) AS m,
    list_reduce(list_prepend(0.0, list(rho * rho / nml ORDER BY lag)), (a, b) -> a + b) AS qsum
  FROM terms
)
SELECT n, m,
  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * qsum, 6) + 0.0 AS q_stat
FROM folded
"""


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test: did customers switch between ordering in
    1994 and 1995?  Pure integer switch counting with continuity
    correction."""
    from csp_gateway_spark.operators.analytics import mcnemar_test

    orders = _t(spark, sf_dir, "orders")
    two = orders.filter(F.year("o_orderdate").isin([1994, 1995])).select(
        "o_custkey", F.year("o_orderdate").alias("yr"), F.lit(1).alias("x")
    )
    out = mcnemar_test(two, "o_custkey", "yr", "x", 1994, 1995)
    return out.select(
        "n_subjects", "b", "c", (F.round("chi2", 6) + F.lit(0.0)).alias("chi2")
    )


ORACLE_MCNEMAR_TEST = """
WITH cells AS (
  SELECT o_custkey AS s,
    MAX(CASE WHEN year(o_orderdate) = 1994 THEN 1 ELSE 0 END) AS xa,
    MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS xb
  FROM orders WHERE year(o_orderdate) IN (1994, 1995) GROUP BY 1
), z AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN xa = 1 AND xb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN xa = 0 AND xb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM cells
)
SELECT n AS n_subjects, b, c,
  round(CASE WHEN b + c > 0
        THEN (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
             * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
             / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END, 6) + 0.0 AS chi2
FROM z
"""


def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-trend test: does monthly revenue rank
    monotonically along the priority order?  Doubled midranks keep L
    exact; no-tie normal approximation for z."""
    from csp_gateway_spark.operators.analytics import page_trend_test

    orders = _t(spark, sf_dir, "orders")
    out = page_trend_test(
        orders,
        F.date_format(F.col("o_orderdate"), "yyyy-MM"),
        "o_orderpriority",
        "o_totalprice",
    )
    return out.select(
        "n_blocks",
        "k",
        (F.round("l_stat", 2) + F.lit(0.0)).alias("l_stat"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_PAGE_TREND = """
WITH cells AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS b,
         o_orderpriority AS t,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1, 2
), kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
comp AS (
  SELECT b, t, y, COUNT(*) OVER (PARTITION BY b) AS cb FROM cells
), r AS (
  SELECT b,
    CAST(row_number() OVER (PARTITION BY b ORDER BY t) AS BIGINT) AS j,
    CAST(2 * rank() OVER (PARTITION BY b ORDER BY y)
         + COUNT(*) OVER (PARTITION BY b, y) - 1 AS BIGINT) AS r2
  FROM comp, kk WHERE cb = kk.k
), one AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n,
         SUM(CAST(j AS HUGEINT) * r2) AS l2
  FROM r
)
SELECT n AS n_blocks, kk.k AS k,
  round(CAST(l2 AS DOUBLE) / 2.0, 2) + 0.0 AS l_stat,
  round(CASE WHEN CAST(n AS DOUBLE) * CAST(kk.k AS DOUBLE) * CAST(kk.k AS DOUBLE)
                  * (CAST(kk.k AS DOUBLE) + 1.0)
                  * (CAST(kk.k AS DOUBLE) * CAST(kk.k AS DOUBLE) - 1.0) / 144.0 > 0
        THEN (CAST(l2 AS DOUBLE) / 2.0
              - CAST(n AS DOUBLE) * CAST(kk.k AS DOUBLE) * (CAST(kk.k AS DOUBLE) + 1.0)
                * (CAST(kk.k AS DOUBLE) + 1.0) / 4.0)
             / sqrt(CAST(n AS DOUBLE) * CAST(kk.k AS DOUBLE) * CAST(kk.k AS DOUBLE)
                    * (CAST(kk.k AS DOUBLE) + 1.0)
                    * (CAST(kk.k AS DOUBLE) * CAST(kk.k AS DOUBLE) - 1.0) / 144.0)
        END, 6) + 0.0 AS z
FROM one, kk
"""


def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett variance-homogeneity test of line price across return
    flags — the normal-theory sibling of levene_test; exact group
    moments, group-sorted ln folds."""
    from csp_gateway_spark.operators.analytics import bartlett_test

    li = _t(spark, sf_dir, "lineitem")
    out = bartlett_test(li, "l_returnflag", "l_extendedprice")
    return out.select(
        "n", "k", (F.round("b_stat", 6) + F.lit(0.0)).alias("b_stat")
    )


ORACLE_BARTLETT_TEST = """
WITH per AS (
  SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sg,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))
        AS DECIMAL(38,4))) AS ssg
  FROM lineitem GROUP BY 1
), terms AS (
  SELECT g, ng,
    (CAST(ng AS DOUBLE) * CAST(ssg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
      / CAST(ng AS DOUBLE) AS q
  FROM per
), t2 AS (
  SELECT g, ng, q,
    CASE WHEN ng > 1 AND q > 0
         THEN (CAST(ng AS DOUBLE) - 1.0) * ln(q / (CAST(ng AS DOUBLE) - 1.0)) END AS lnterm,
    CASE WHEN ng > 1 THEN 1.0 / (CAST(ng AS DOUBLE) - 1.0) END AS inv
  FROM terms
), folded AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
    MIN(ng) AS minng,
    MIN(CASE WHEN q > 0 THEN 1 ELSE 0 END) AS posvar,
    list_reduce(list_prepend(0.0, list(q ORDER BY g)), (a, b) -> a + b) AS qsum,
    list_reduce(list_prepend(0.0, list(lnterm ORDER BY g)), (a, b) -> a + b) AS lnsum,
    list_reduce(list_prepend(0.0, list(inv ORDER BY g)), (a, b) -> a + b) AS invsum
  FROM t2
)
SELECT n, k,
  round(CASE WHEN minng > 1 AND posvar = 1 AND k > 1
        THEN ((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               * ln(qsum / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) - lnsum)
             / (1.0 + (invsum - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                      / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
        END, 6) + 0.0 AS b_stat
FROM folded
"""


def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift between returned ('R') and acknowledged
    ('A') line quantities — the median pairwise difference via the
    distinct-value convolution, never the O(n²) pair space."""
    from csp_gateway_spark.operators.analytics import hodges_lehmann

    li = _t(spark, sf_dir, "lineitem")
    out = hodges_lehmann(li, "l_returnflag", "l_quantity", "R", "A")
    return out.select(
        "n_a",
        "n_b",
        "n_pairs",
        (F.round("hl_shift", 6) + F.lit(0.0)).alias("hl_shift"),
    )


ORACLE_HODGES_LEHMANN = """
WITH pv AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), conv AS (
  SELECT CAST(a.v - b.v AS DECIMAL(19,2)) AS d,
         SUM(CAST(a.ca AS HUGEINT) * b.cb) AS w
  FROM pv a, pv b WHERE a.ca > 0 AND b.cb > 0 GROUP BY 1
), tot AS (SELECT SUM(w) AS t FROM conv),
cum AS (SELECT d, SUM(w) OVER (ORDER BY d) AS c FROM conv),
lo AS (SELECT MIN(d) AS d FROM cum, tot WHERE c >= (t + t % 2) // 2),
hi AS (SELECT MIN(d) AS d FROM cum, tot WHERE c >= (t - t % 2) // 2 + 1),
counts AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv
)
SELECT counts.na AS n_a, counts.nb AS n_b, CAST(tot.t AS BIGINT) AS n_pairs,
  round(CAST(CAST((lo.d + hi.d) * 100 AS HUGEINT) AS DOUBLE) / 200.0, 6) + 0.0 AS hl_shift
FROM counts, tot, lo, hi
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the shared 12-gram similarity graph —
    do template hubs link to other hubs?  Exact integer degree
    moments over the symmetrized edge list."""
    from csp_gateway_spark.operators.corpus import degree_assortativity

    edges = _snp_edges(spark, sf_dir)
    out = degree_assortativity(edges)
    return out.select("n_edges", (F.round("r", 6) + F.lit(0.0)).alias("r"))


def _oracle_assortativity() -> str:
    return (
        _snp_sql_prefix()
        + """
, e0 AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM cpairs
), dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY 1),
j AS (
  SELECT d1.deg AS ds, d2.deg AS dd
  FROM e0 JOIN dg d1 ON e0.src = d1.src JOIN dg d2 ON e0.dst = d2.src
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
    SUM(CAST(ds AS HUGEINT)) AS sa, SUM(CAST(dd AS HUGEINT)) AS sb,
    SUM(CAST(ds AS HUGEINT) * ds) AS saa, SUM(CAST(dd AS HUGEINT) * dd) AS sbb,
    SUM(CAST(ds AS HUGEINT) * dd) AS sab
  FROM j
)
SELECT m AS n_edges,
  round(CASE WHEN (CAST(m AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                * (CAST(m AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
        THEN (CAST(m AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((CAST(m AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                  * (CAST(m AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
        END, 6) + 0.0 AS r
FROM s
"""
    )


def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon/Simpson diversity of the documents' source mix with
    effective-source numbers — the corpus-concentration gate before
    mixture weighting."""
    from csp_gateway_spark.operators.corpus import source_diversity

    docs = _ts(spark, sf_dir, "documents")
    out = source_diversity(docs, "source")
    return out.select(
        "n_docs",
        "k_groups",
        (F.round("shannon", 6) + F.lit(0.0)).alias("shannon"),
        (F.round("simpson", 6) + F.lit(0.0)).alias("simpson"),
        (F.round("eff_shannon", 6) + F.lit(0.0)).alias("eff_shannon"),
        (F.round("eff_simpson", 6) + F.lit(0.0)).alias("eff_simpson"),
    )


ORACLE_SOURCE_DIVERSITY = """
WITH per AS (
  SELECT source AS g, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM per),
terms AS (
  SELECT g, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM per, tot
), folded AS (
  SELECT
    list_reduce(list_prepend(0.0,
      list(CASE WHEN p > 0 THEN p * ln(p) ELSE 0.0 END ORDER BY g)), (a, b) -> a + b) AS hsum,
    list_reduce(list_prepend(0.0, list(p * p ORDER BY g)), (a, b) -> a + b) AS dsum
  FROM terms
)
SELECT tot.n AS n_docs, tot.k AS k_groups,
  round(-hsum, 6) + 0.0 AS shannon,
  round(dsum, 6) + 0.0 AS simpson,
  round(exp(-hsum), 6) + 0.0 AS eff_shannon,
  round(1.0 / dsum, 6) + 0.0 AS eff_simpson
FROM folded, tot
"""


# ---------------------------------------------------------------------------
# WAVE 25 (round 11) — deterministic resampling inference (no RNG: all
# replicate randomness is the portable md5 hash, bit-reproducible on
# both engines and any partitioning)
# ---------------------------------------------------------------------------

_BOOT_REPS = 32
_BOOT_THRESH = [
    98751885, 197503771, 246879713, 263338361, 267453023, 268275955,
    268413111, 268432704, 268435153, 268435426, 268435453, 268435455,
]
_SF_REPS = 63


def _sql_hash28(rep: str, ident: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({rep} AS VARCHAR) || ':' || "
        f"CAST({ident} AS VARCHAR)), 1, 7))::BIGINT"
    )


def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% CI for the mean order value — the
    resampling scheme that distributes (per-row hash weights, one
    explode + one grouped aggregate for all 32 replicates; classical
    bootstrap's global multinomial draw does not)."""
    from csp_gateway_spark.operators.analytics import bootstrap_mean_ci

    orders = _t(spark, sf_dir, "orders")
    out = bootstrap_mean_ci(
        orders, "o_orderkey", "o_totalprice", reps=_BOOT_REPS, alpha=0.10
    )
    return out.select(
        "n",
        "reps",
        (F.round("mean", 4) + F.lit(0.0)).alias("mean"),
        (F.round("ci_lo", 4) + F.lit(0.0)).alias("ci_lo"),
        (F.round("ci_hi", 4) + F.lit(0.0)).alias("ci_hi"),
    )


def _oracle_bootstrap_mean_ci() -> str:
    from csp_gateway_spark.operators.analytics import _POISSON1_P_THRESHOLDS
    from csp_gateway_spark.operators.dedup import _AFFINE_P, _affine_coeffs

    coeffs = _affine_coeffs(_BOOT_REPS)
    alist = "[" + ", ".join(str(a) for a, _ in coeffs) + "]"
    clist = "[" + ", ".join(str(c) for _, c in coeffs) + "]"
    x = f"(({alist}[rep + 1] * x0 + {clist}[rep + 1]) % {_AFFINE_P})"
    ladder = "(" + " + ".join(
        f"(CASE WHEN {x} >= {t} THEN 1 ELSE 0 END)"
        for t in _POISSON1_P_THRESHOLDS
    ) + ")"
    import math as _m

    lo_idx = int(_m.floor(0.05 * _BOOT_REPS)) + 1
    hi_idx = int(_m.ceil(0.95 * _BOOT_REPS))
    return f"""
WITH reps AS (SELECT unnest(range(0, {_BOOT_REPS})) AS rep),
base AS (
  SELECT ('0x' || substr(md5('boot:' || CAST(o_orderkey AS VARCHAR)), 1, 7))::BIGINT AS x0,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders
), fanned AS (
  SELECT rep, CAST({ladder} AS BIGINT) AS w, y
  FROM base, reps
), per_rep AS (
  SELECT rep, SUM(CAST(CAST(w AS DECIMAL(6,0)) * y AS DECIMAL(38,2))) AS sw,
         CAST(SUM(w) AS BIGINT) AS nw
  FROM fanned GROUP BY 1
), means AS (
  SELECT CASE WHEN nw > 0 THEN CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) END AS m
  FROM per_rep
), packed AS (
  SELECT list(m ORDER BY m) AS ms, CAST(count(*) AS BIGINT) AS b FROM means
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders
)
SELECT n, b AS reps,
  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0.0 AS mean,
  round(ms[{lo_idx}], 4) + 0.0 AS ci_lo,
  round(ms[{hi_idx}], 4) + 0.0 AS ci_hi
FROM packed, tot
"""


def q_signflip_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip randomization test: did per-customer spend
    shift from 1994 to 1995?  63 hash-signed replicates, exact
    decimal totals, exact-rational p."""
    from csp_gateway_spark.operators.analytics import signflip_test

    orders = _t(spark, sf_dir, "orders")
    pairs = (
        orders.filter(F.year("o_orderdate").isin([1994, 1995]))
        .groupBy("o_custkey")
        .agg(
            (
                F.sum(
                    F.when(
                        F.year("o_orderdate") == 1995,
                        F.col("o_totalprice").cast("decimal(18,2)"),
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                )
                - F.sum(
                    F.when(
                        F.year("o_orderdate") == 1994,
                        F.col("o_totalprice").cast("decimal(18,2)"),
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                )
            ).alias("d")
        )
    )
    out = signflip_test(pairs, "o_custkey", "d", reps=_SF_REPS)
    return out.select(
        "n_pairs",
        "reps",
        (F.round("t_obs", 2) + F.lit(0.0)).alias("t_obs"),
        (F.round("p_value", 6) + F.lit(0.0)).alias("p_value"),
    )


def _oracle_signflip_test() -> str:
    x = _sql_hash28("rep", "_id")
    return f"""
WITH pairs AS (
  SELECT o_custkey AS _id,
    CAST(SUM(CASE WHEN year(o_orderdate) = 1995
             THEN CAST(o_totalprice AS DECIMAL(18,2))
             ELSE CAST(0 AS DECIMAL(18,2)) END)
       - SUM(CASE WHEN year(o_orderdate) = 1994
             THEN CAST(o_totalprice AS DECIMAL(18,2))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS d
  FROM orders WHERE year(o_orderdate) IN (1994, 1995) GROUP BY 1
), obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         COALESCE(SUM(d), CAST(0 AS DECIMAL(38,2))) AS t
  FROM pairs
), reps AS (SELECT unnest(range(1, {_SF_REPS} + 1)) AS rep),
per_rep AS (
  SELECT rep,
    SUM(CAST(CAST(CASE WHEN {x} % 2 = 0 THEN 1 ELSE -1 END AS DECIMAL(2,0)) * d
        AS DECIMAL(38,2))) AS tr
  FROM pairs, reps GROUP BY 1
), counted AS (
  SELECT CAST(SUM(CASE WHEN abs(tr) >= abs(obs.t) THEN 1 ELSE 0 END) AS BIGINT) AS ge,
         MAX(obs.n) AS n, MAX(obs.t) AS t
  FROM per_rep, obs
)
SELECT n AS n_pairs, CAST({_SF_REPS} AS BIGINT) AS reps,
  round(CAST(t AS DOUBLE), 2) + 0.0 AS t_obs,
  round((1.0 + CAST(ge AS DOUBLE)) / {float(_SF_REPS + 1)!r}, 6) + 0.0 AS p_value
FROM counted
"""


def q_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-month block jackknife of the mean order value — the
    cluster-respecting standard error (iid bootstrap understates SEs
    when rows cluster by month)."""
    from csp_gateway_spark.operators.analytics import jackknife_variance

    orders = _t(spark, sf_dir, "orders")
    out = jackknife_variance(
        orders, F.date_format(F.col("o_orderdate"), "yyyy-MM"), "o_totalprice"
    )
    return out.select(
        "n",
        "g",
        (F.round("theta", 4) + F.lit(0.0)).alias("theta"),
        (F.round("jack_var", 4) + F.lit(0.0)).alias("jack_var"),
        (F.round("jack_se", 6) + F.lit(0.0)).alias("jack_se"),
    )


ORACLE_JACKKNIFE_VARIANCE = """
WITH per AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS g,
         CAST(count(*) AS BIGINT) AS ng,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sg
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
         CAST(count(*) AS BIGINT) AS gc
  FROM per
), terms AS (
  SELECT g, CAST(s - sg AS DOUBLE) / CAST(n - ng AS DOUBLE) AS tg
  FROM per, tot
), folded AS (
  SELECT list(struct_pack(g := g, tg := tg) ORDER BY g) AS zs FROM terms
), stage AS (
  SELECT list_reduce(list_prepend(0.0, list_transform(zs, xx -> xx.tg)),
                     (a, b) -> a + b) / CAST(gc AS DOUBLE) AS tbar,
         zs, n, s, gc
  FROM folded, tot
), fin AS (
  SELECT n, gc, s,
    (CAST(gc AS DOUBLE) - 1.0) / CAST(gc AS DOUBLE)
      * list_reduce(list_prepend(0.0,
          list_transform(zs, x -> (x.tg - tbar) * (x.tg - tbar))),
          (a, b) -> a + b) AS jvar
  FROM stage
)
SELECT n, gc AS g,
  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0.0 AS theta,
  round(jvar, 4) + 0.0 AS jack_var,
  round(sqrt(jvar), 6) + 0.0 AS jack_se
FROM fin
"""


# ---------------------------------------------------------------------------
# WAVE 26 (round 11) — distribution distance / partial association /
# graph clustering / sequence entropy / spectral seasonality
# ---------------------------------------------------------------------------


def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein distance between returned ('R') and acknowledged
    ('A') line prices — the dollars-valued drift metric beside
    ks_test/cvm_test; exact step integral over the collapsed ECDF."""
    from csp_gateway_spark.operators.analytics import wasserstein_distance

    li = _t(spark, sf_dir, "lineitem")
    cells, n_cells, totals = _ra_price_cells(spark, sf_dir)
    out = wasserstein_distance(
        li, "l_returnflag", "l_extendedprice", "R", "A",
        cells=cells, cells_count=n_cells, cells_totals=totals,
    )
    return out.select(
        "n_a", "n_b", (F.round("w1", 6) + F.lit(0.0)).alias("w1")
    )


ORACLE_WASSERSTEIN = """
WITH pv AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), c AS (
  SELECT v,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
    lead(v) OVER (ORDER BY v) AS vhi
  FROM pv
), t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv),
s AS (
  SELECT COALESCE(SUM(CAST(
           CAST(abs(CAST(c1 AS HUGEINT) * nb - CAST(c2 AS HUGEINT) * na) AS DECIMAL(24,0))
           * CAST(vhi - v AS DECIMAL(13,2))
         AS DECIMAL(38,2))), CAST(0 AS DECIMAL(38,2))) AS w
  FROM c, t WHERE vhi IS NOT NULL
)
SELECT na AS n_a, nb AS n_b,
  round(CAST(w AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) + 0.0 AS w1
FROM s, t
"""


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price controlling for
    discount — the confounder screen; nine exact moments in one
    scan."""
    from csp_gateway_spark.operators.analytics import partial_corr

    li = _t(spark, sf_dir, "lineitem")
    sums = _li_moments(spark, sf_dir).select(
        "_n",
        F.col("_s_l_quantity").alias("_sx"),
        F.col("_s_l_extendedprice").alias("_sy"),
        F.col("_s_l_discount").alias("_sz"),
        F.col("_ss_l_quantity").alias("_sxx"),
        F.col("_ss_l_extendedprice").alias("_syy"),
        F.col("_ss_l_discount").alias("_szz"),
        F.col("_sp_l_extendedprice_l_quantity").alias("_sxy"),
        F.col("_sp_l_discount_l_quantity").alias("_sxz"),
        F.col("_sp_l_discount_l_extendedprice").alias("_syz"),
    )
    out = partial_corr(li, "l_quantity", "l_extendedprice", "l_discount", sums=sums)
    return out.select(
        "n",
        (F.round("r_xy", 6) + F.lit(0.0)).alias("r_xy"),
        (F.round("r_xz", 6) + F.lit(0.0)).alias("r_xz"),
        (F.round("r_yz", 6) + F.lit(0.0)).alias("r_yz"),
        (F.round("partial_r", 6) + F.lit(0.0)).alias("partial_r"),
    )


ORACLE_PARTIAL_CORR = """
WITH b AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
         CAST(l_discount AS DECIMAL(18,2)) AS z
  FROM lineitem
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx, SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(z AS DECIMAL(38,2))) AS sz,
    SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS syy,
    SUM(CAST(CAST(z AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS szz,
    SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS sxz,
    SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS syz
  FROM b
), r AS (
  SELECT n,
    CASE WHEN (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0
      THEN (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) END AS r_xy,
    CASE WHEN (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE)) > 0
      THEN (CAST(n AS DOUBLE)*CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sz AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))) END AS r_xz,
    CASE WHEN (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))
            * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE)) > 0
      THEN (CAST(n AS DOUBLE)*CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sz AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))) END AS r_yz
  FROM s
)
SELECT n,
  round(r_xy, 6) + 0.0 AS r_xy,
  round(r_xz, 6) + 0.0 AS r_xz,
  round(r_yz, 6) + 0.0 AS r_yz,
  round(CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0
        THEN (r_xy - r_xz * r_yz)
             / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) END, 6) + 0.0 AS partial_r
FROM r
"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global + average-local clustering coefficients of the shared
    12-gram similarity graph — do near-dup neighborhoods close their
    triangles?"""
    from csp_gateway_spark.operators.corpus import clustering_coefficient

    edges = _snp_edges(spark, sf_dir)
    out = clustering_coefficient(edges)
    return out.select(
        "n_nodes",
        "n_triangles",
        (F.round("global_cc", 6) + F.lit(0.0)).alias("global_cc"),
        (F.round("avg_local_cc", 6) + F.lit(0.0)).alias("avg_local_cc"),
    )


def _oracle_clustering_coeff() -> str:
    return (
        _snp_sql_prefix()
        + """
, e AS (
  SELECT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
  FROM cpairs WHERE id_a != id_b
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
), tpn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS t
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY 1
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1
), pn AS (
  SELECT deg.node, deg.d, COALESCE(tpn.t, 0) AS t,
    CASE WHEN deg.d >= 2
         THEN 2.0 * CAST(COALESCE(tpn.t, 0) AS DOUBLE)
              / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0)) END AS cc
  FROM deg LEFT JOIN tpn USING (node)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
    SUM(CAST(t AS HUGEINT)) AS t3,
    SUM(CASE WHEN d >= 2 THEN CAST(d AS HUGEINT) * (d - 1) ELSE CAST(0 AS HUGEINT) END) AS w2,
    CAST(SUM(CASE WHEN cc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nd2,
    list_reduce(list_prepend(0.0, list(cc ORDER BY node) FILTER (WHERE cc IS NOT NULL)),
                (x, y) -> x + y) AS ccsum
  FROM pn
)
SELECT nn AS n_nodes, CAST(t3 // 3 AS BIGINT) AS n_triangles,
  round(CASE WHEN w2 > 0 THEN 2.0 * CAST(t3 AS DOUBLE) / CAST(w2 AS DOUBLE) END, 6) + 0.0 AS global_cc,
  round(CASE WHEN nd2 > 0 THEN ccsum / CAST(nd2 AS DOUBLE) END, 6) + 0.0 AS avg_local_cc
FROM agg
"""
    )


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy of the user event Markov chain — how
    predictable is the next event, with the effective branching
    factor exp(H)."""
    from csp_gateway_spark.operators.corpus import transition_entropy
    from csp_gateway_spark.operators.windows import event_transitions

    ev = _t(spark, sf_dir, "events")
    trans = event_transitions(
        ev, key_col="user_id", type_col="event_type", order_cols=["ts", "event_id"]
    )
    out = transition_entropy(trans)
    return out.select(
        "n_transitions",
        "k_states",
        (F.round("cond_entropy", 8) + F.lit(0.0)).alias("cond_entropy"),
        (F.round("eff_branching", 8) + F.lit(0.0)).alias("eff_branching"),
    )


ORACLE_TRANSITION_ENTROPY = """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS nxt
  FROM events
), p AS (
  SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
), tc AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM p GROUP BY 1),
tt AS (SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(DISTINCT cur) AS BIGINT) AS k FROM p),
terms AS (
  SELECT p.cur, p.nxt,
    -(CAST(p.n AS DOUBLE) / CAST(tt.t AS DOUBLE))
      * ln(CAST(p.n AS DOUBLE) / CAST(tc.tot AS DOUBLE)) AS h
  FROM p JOIN tc USING (cur), tt
), folded AS (
  SELECT list_reduce(list_prepend(0.0, list(h ORDER BY cur, nxt)), (a, b) -> a + b) AS hs
  FROM terms
)
SELECT tt.t AS n_transitions, tt.k AS k_states,
  round(hs, 8) + 0.0 AS cond_entropy,
  round(exp(hs), 8) + 0.0 AS eff_branching
FROM folded, tt
"""


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized DFT periodogram of monthly revenue (candidate
    periods 2-24 months) — the seasonality scan; one pinned-order
    fold per period over the packed series."""
    from csp_gateway_spark.operators.analytics import periodogram

    monthly = _monthly_revenue(spark, sf_dir).select(
        (
            (F.year("_m") - F.lit(1970)) * F.lit(12)
            + F.month("_m")
            - F.lit(1)
        ).cast("long").alias("k"),
        F.col("_rd").alias("y"),
    )
    out = periodogram(monthly, "k", "y", min_period=2, max_period=24)
    return out.select(
        "period", (F.round("power", 8) + F.lit(0.0)).alias("power")
    ).orderBy("period")


ORACLE_PERIODOGRAM = """
WITH m AS (
  SELECT CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(y) AS s FROM m),
er AS (
  SELECT CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS t,
         (CAST(y AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / CAST(s AS DOUBLE) AS yv
  FROM m, tot
), periods AS (SELECT unnest(range(2, 25)) AS p),
folds AS (
  SELECT p,
    list_reduce(list_prepend(0.0,
      list(yv * cos(6.283185307179586 * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)) ORDER BY t)),
      (a, b) -> a + b) AS c,
    list_reduce(list_prepend(0.0,
      list(yv * sin(6.283185307179586 * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)) ORDER BY t)),
      (a, b) -> a + b) AS sn
  FROM periods, er GROUP BY p
)
SELECT CAST(p AS BIGINT) AS period, round(c * c + sn * sn, 8) + 0.0 AS power
FROM folds ORDER BY period
"""


# ---------------------------------------------------------------------------
# WAVE 27 (round 11) — Kneser-Ney LM quality + conformal intervals
# ---------------------------------------------------------------------------


def q_kn_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cross-entropy / perplexity under an interpolated
    Kneser-Ney bigram LM — continuation-count smoothing beside the
    stupid-backoff scorer; exact count tables, (v,w)-sorted log
    fold."""
    from csp_gateway_spark.operators.corpus import kn_bigram_entropy

    docs = _ts(spark, sf_dir, "documents")
    bc = _bigram_cells(spark, sf_dir)
    out = kn_bigram_entropy(
        docs,
        cells=bc.select(
            F.col("w1").alias("_v"),
            F.col("w2").alias("_w"),
            F.col("c").alias("_c"),
        ),
    )
    return out.select(
        "n_bigrams",
        "n_cells",
        (F.round("cross_entropy", 8) + F.lit(0.0)).alias("cross_entropy"),
        (F.round("perplexity", 6) + F.lit(0.0)).alias("perplexity"),
    )


def _oracle_kn_bigram_entropy() -> str:
    return f"""
WITH sh AS (SELECT unnest({_sql_shingles_all(2)}) AS s FROM documents),
pr AS (SELECT string_split(s, ' ') AS p FROM sh),
bg AS (SELECT p[1] AS v, p[2] AS w FROM pr WHERE len(p) = 2),
cells AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
lft AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv, CAST(count(*) AS BIGINT) AS n1v
        FROM cells GROUP BY 1),
rgt AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nb, CAST(count(*) AS BIGINT) AS ncells
        FROM cells),
terms AS (
  SELECT cells.v, cells.w,
    -CAST(c AS DOUBLE) * ln(
        greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cv AS DOUBLE)
        + 0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)
          * (CAST(n1w AS DOUBLE) / CAST(ncells AS DOUBLE))
      ) AS h
  FROM cells JOIN lft USING (v) JOIN rgt USING (w), tot
), folded AS (
  SELECT list_reduce(list_prepend(0.0, list(h ORDER BY v, w)), (a, b) -> a + b) AS hs
  FROM terms
)
SELECT nb AS n_bigrams, ncells AS n_cells,
  round(hs / CAST(nb AS DOUBLE), 8) + 0.0 AS cross_entropy,
  round(exp(hs / CAST(nb AS DOUBLE)), 6) + 0.0 AS perplexity
FROM folded, tot
"""


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval around the per-priority median
    order value — hash-split halves, exact order-statistic quantile,
    test-set coverage."""
    from csp_gateway_spark.operators.analytics import conformal_interval

    orders = _t(spark, sf_dir, "orders")
    out = conformal_interval(
        orders, "o_orderkey", "o_orderpriority", "o_totalprice", alpha=0.10
    )
    return out.select(
        "n_calib",
        "n_test",
        "n_test_dropped",
        (F.round("q_hat", 4) + F.lit(0.0)).alias("q_hat"),
        (F.round("coverage", 8) + F.lit(0.0)).alias("coverage"),
    )


def _oracle_conformal_interval() -> str:
    x = _sql_hash28("0", "o_orderkey")
    return f"""
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS g,
         CAST(2 * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(19,2)) AS y2,
         {x} % 2 AS half
  FROM orders
), med AS (
  SELECT g, quantile_cont(CAST(y2 AS DOUBLE), 0.5) AS m2
  FROM base WHERE half = 0 GROUP BY 1
), resid AS (
  SELECT base.half,
         CAST(ABS(y2 - CAST(m2 AS DECIMAL(19,2))) AS DECIMAL(19,2)) AS r2
  FROM base LEFT JOIN med USING (g)
), pv AS (
  SELECT r2 AS v, CAST(count(*) AS BIGINT) AS c
  FROM resid WHERE half = 0 GROUP BY 1
), rk AS (
  SELECT v, c,
    SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), nc AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pv),
kk AS (SELECT CAST(((n + 1) * 9 + 9) // 10 AS BIGINT) AS k, n FROM nc),
q AS (
  SELECT v AS q2, kk.n FROM rk, kk WHERE cum >= kk.k AND cum - c < kk.k
), qone AS (
  SELECT MAX(q2) AS q2, MAX(n) AS n FROM q
), cov AS (
  SELECT CAST(count(*) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN r2 <= qone.q2 THEN 1 ELSE 0 END) AS BIGINT) AS inn,
         CAST(SUM(CASE WHEN r2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS drp,
         MAX(qone.q2) AS q2, MAX(qone.n) AS n
  FROM resid, qone WHERE half = 1
)
SELECT n AS n_calib, nt AS n_test, COALESCE(drp, 0) AS n_test_dropped,
  round(CAST(q2 AS DOUBLE) / 2.0, 4) + 0.0 AS q_hat,
  round(COALESCE(CAST(inn AS DOUBLE), 0.0) / CAST(nt AS DOUBLE), 8) + 0.0 AS coverage
FROM cov
"""


# ---------------------------------------------------------------------------
# WAVE 28 (round 11) — domain-mixture reweighting (DoReMi-style)
# ---------------------------------------------------------------------------

_DRM_ETA = 0.5
_DRM_ROUNDS = 2


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-DRO mixture weights over document sources: per-source
    excess loss under the corpus unigram LM drives two exponentiated-
    gradient updates — the domain-level counterpart of dsir_weights."""
    from csp_gateway_spark.operators.curation import doremi_weights

    docs = _ts(spark, sf_dir, "documents")
    out = doremi_weights(docs, eta=_DRM_ETA, rounds=_DRM_ROUNDS)
    return out.select(
        "source",
        "n_tokens",
        (F.round("loss", 8) + F.lit(0.0)).alias("loss"),
        (F.round("weight", 8) + F.lit(0.0)).alias("weight"),
    ).orderBy("source")


def _oracle_doremi_weights() -> str:
    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    e = _DRM_ETA
    return f"""
WITH tk AS (
  SELECT source AS s, unnest({toks}) AS w FROM documents
), cells AS (
  SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2
), marg AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT s, w, c,
    -CAST(c AS DOUBLE) * ln(CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)) AS h
  FROM cells JOIN marg USING (w), tot
), per_src AS (
  SELECT s, CAST(SUM(c) AS BIGINT) AS nt,
    list_reduce(list_prepend(0.0, list(h ORDER BY w)), (a, b) -> a + b) AS hsum
  FROM terms GROUP BY 1
), losses AS (
  SELECT s, nt, hsum / CAST(nt AS DOUBLE) AS loss FROM per_src
), packed AS (
  SELECT list(struct_pack(s := s, nt := nt, loss := loss) ORDER BY s) AS g
  FROM losses
), r1 AS (
  SELECT g, list_transform(g, x -> 1.0 * exp({e} * x.loss)) AS raw1 FROM packed
), w1 AS (
  SELECT g, list_transform(raw1,
    v -> v / list_reduce(list_prepend(0.0, raw1), (a, b) -> a + b)) AS wl
  FROM r1
), r2 AS (
  SELECT g, list_transform(range(1, len(g) + 1),
    i -> wl[i] * exp({e} * g[i].loss)) AS raw2
  FROM w1
), w2 AS (
  SELECT g, list_transform(raw2,
    v -> v / list_reduce(list_prepend(0.0, raw2), (a, b) -> a + b)) AS wl
  FROM r2
), rows_ AS (
  SELECT unnest(list_transform(range(1, len(g) + 1),
    i -> struct_pack(source := g[i].s, n_tokens := g[i].nt,
                     loss := g[i].loss, weight := wl[i]))) AS r
  FROM w2
)
SELECT r.source AS source, r.n_tokens AS n_tokens,
  round(r.loss, 8) + 0.0 AS loss,
  round(r.weight, 8) + 0.0 AS weight
FROM rows_ ORDER BY source
"""


def q_topk_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHTH streaming gate shape: CUSTOM-STATE top-k — a REAL
    streaming replay (6 micro-batches) where an
    ``applyInPandasWithState`` node keeps each event_type's top-3
    (value, event_id) leaderboard in bounded per-key state (the
    reference's `@csp.node`-with-state W10 shape, not a built-in
    aggregate).  Every trigger emits the refreshed board tagged with
    the processed count; the replay selects each key's FINAL emission
    (seen == the key's total) — deterministic because the merge
    order is (value, id) descending regardless of trigger slicing —
    and hash-checks it against the batch row_number oracle."""
    from csp_gateway_spark.streaming.stateful import apply_stateful, make_topk_hook

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def build(stream):
        return apply_stateful(
            stream,
            keys=["event_type"],
            func=make_topk_hook(k=3),
            state_schema="seen bigint, vs array<double>, ids array<bigint>",
            output_schema="key string, rank int, value double, id bigint, seen bigint",
        )

    def finish(t):
        totals = ev.groupBy(F.col("event_type").alias("key")).agg(
            F.count(F.lit(1)).alias("_tot")
        )
        return (
            t.join(F.broadcast(totals), "key")
            .filter(F.col("seen") == F.col("_tot"))
            .select(
                F.col("key").alias("event_type"),
                F.col("rank").cast("long").alias("rank"),
                "value",
                F.col("id").alias("event_id"),
            )
            .orderBy("event_type", "rank")
        )

    return _stream_replay(
        spark, "tkstream", ev, _hash_split(ev, 6), build, finish
    ).orderBy("event_type", "rank")


ORACLE_TOPK_STREAM_REPLAY = """
SELECT event_type, CAST(rn AS BIGINT) AS rank, value, event_id
FROM (
  SELECT event_type, value, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY value DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3 ORDER BY event_type, rank
"""


# ---------------------------------------------------------------------------
# WAVE 29 (round 11) — post-hoc pairwise comparison / competing risks
# ---------------------------------------------------------------------------


def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD pairs over order priorities — WHICH priority
    pairs differ in mean order value, after anova_f says some do."""
    from csp_gateway_spark.operators.analytics import tukey_hsd

    orders = _t(spark, sf_dir, "orders")
    out = tukey_hsd(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        (F.round("diff", 4) + F.lit(0.0)).alias("diff"),
        (F.round("q", 6) + F.lit(0.0)).alias("q"),
    ).orderBy("g_a", "g_b")


ORACLE_TUKEY_HSD = """
WITH per AS (
  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sg,
    SUM(CAST(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))
        AS DECIMAL(38,4))) AS ssg
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
    SUM(ssg) AS ss,
    list_reduce(list_prepend(0.0,
      list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) ORDER BY g)),
      (a, b) -> a + b) AS bt
  FROM per
), m AS (
  SELECT (CAST(ss AS DOUBLE) - bt) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw
  FROM t
)
SELECT a.g AS g_a, b.g AS g_b, a.ng AS n_a, b.ng AS n_b,
  round(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
        - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE), 4) + 0.0 AS diff,
  round(CASE WHEN sqrt(msw / 2.0 * (1.0 / CAST(a.ng AS DOUBLE) + 1.0 / CAST(b.ng AS DOUBLE))) > 0
        THEN abs(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
                 - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE))
             / sqrt(msw / 2.0 * (1.0 / CAST(a.ng AS DOUBLE) + 1.0 / CAST(b.ng AS DOUBLE)))
        END, 6) + 0.0 AS q
FROM per a JOIN per b ON a.g < b.g, m
ORDER BY g_a, g_b
"""


def q_cumulative_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence of 'returned' vs
    'acknowledged' over ship latency (open lines censored) — the
    competing-risks correction of per-cause 1−KM."""
    from csp_gateway_spark.operators.analytics import cumulative_incidence

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        # weekly buckets: the CIF recursion is inherently sequential
        # (one fold step per distinct duration on BOTH engines), so the
        # gate keys it calendar-bounded — ~70 weekly steps instead of
        # thousands of raw day-mix steps
        F.floor(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) / F.lit(7)
        ).cast("long").alias("dur"),
        F.col("l_returnflag").alias("flag"),
    )
    out = cumulative_incidence(base, "dur", "flag", "R", "A")
    return out.select(
        "t",
        "n_risk",
        "d1",
        "d2",
        (F.round("cif1", 6) + F.lit(0.0)).alias("cif1"),
        (F.round("cif2", 6) + F.lit(0.0)).alias("cif2"),
    ).orderBy("t")


ORACLE_CUMULATIVE_INCIDENCE = """
WITH RECURSIVE base AS MATERIALIZED (
  -- floor (not //, which truncates toward zero): this synthetic
  -- testdata has NEGATIVE ship latencies and Spark's floor(x/7) and
  -- DuckDB's x//7 disagree on them
  SELECT CAST(floor(CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE) / 7.0)
              AS BIGINT) AS t,
         l_returnflag AS flag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), steps AS (
  SELECT t,
    CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
    CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS d2,
    CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1
), risk AS MATERIALIZED (
  SELECT t, d1, d2, n,
    CAST(SUM(n) OVER () - COALESCE(SUM(n) OVER (
      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS nr,
    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn
  FROM steps
), r AS (
  SELECT rn, t, nr, d1, d2,
    0.0 + 1.0 * CAST(d1 AS DOUBLE) / CAST(nr AS DOUBLE) AS cif1,
    0.0 + 1.0 * CAST(d2 AS DOUBLE) / CAST(nr AS DOUBLE) AS cif2,
    1.0 * (1.0 - CAST(d1 + d2 AS DOUBLE) / CAST(nr AS DOUBLE)) AS surv
  FROM risk WHERE rn = 1
  UNION ALL
  SELECT x.rn, x.t, x.nr, x.d1, x.d2,
    r.cif1 + r.surv * CAST(x.d1 AS DOUBLE) / CAST(x.nr AS DOUBLE),
    r.cif2 + r.surv * CAST(x.d2 AS DOUBLE) / CAST(x.nr AS DOUBLE),
    r.surv * (1.0 - CAST(x.d1 + x.d2 AS DOUBLE) / CAST(x.nr AS DOUBLE))
  FROM r JOIN risk x ON x.rn = r.rn + 1
)
SELECT t, nr AS n_risk, d1, d2,
  round(cif1, 6) + 0.0 AS cif1,
  round(cif2, 6) + 0.0 AS cif2
FROM r WHERE d1 + d2 > 0 ORDER BY t
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: keyed-last state + filter query on sf0.001."""
    return q_state_filter_query(spark, "/root/testdata/sf0.001")



# ---------------------------------------------------------------------------
# WAVE 30 (round 12) — robust nonparametrics + forecast backtesting +
# embedding drift
# ---------------------------------------------------------------------------


def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of order value across the five priorities —
    exact order-statistic grand median, k-bounded 2xk chi-square."""
    from csp_gateway_spark.operators.analytics import mood_median

    orders = _t(spark, sf_dir, "orders")
    out = mood_median(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "n",
        "k",
        (F.round("median", 6) + F.lit(0.0)).alias("median"),
        (F.round("chi2", 6) + F.lit(0.0)).alias("chi2"),
        "df",
    )


ORACLE_MOOD_MEDIAN = """
WITH b AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS g, o_totalprice AS v FROM orders
), pv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
), rk AS (
  SELECT v, c,
    SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pv),
kk AS (SELECT CAST((n + 1) // 2 AS BIGINT) AS k FROM nt),
md AS (SELECT v AS med FROM rk, kk WHERE cum >= kk.k AND cum - c < kk.k),
pg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         CAST(SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT) AS ab
  FROM b, md GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(ab) AS BIGINT) AS ma,
         CAST(count(*) AS BIGINT) AS k
  FROM pg
), chi AS (
  SELECT list_reduce(list_prepend(0.0, list(
      (CAST(ab AS DOUBLE) - CAST(ng AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(ab AS DOUBLE) - CAST(ng AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
    / (CAST(ng AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
    + (CAST(ng - ab AS DOUBLE) - CAST(ng AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE)) / CAST(n AS DOUBLE))
    * (CAST(ng - ab AS DOUBLE) - CAST(ng AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE)) / CAST(n AS DOUBLE))
    / (CAST(ng AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE)) / CAST(n AS DOUBLE))
    ORDER BY g)), (a, b) -> a + b) AS chi2
  FROM pg, tot
)
SELECT tot.n AS n, tot.k AS k,
  round(CAST(med AS DOUBLE), 6) + 0.0 AS median,
  CASE WHEN ma > 0 AND ma < tot.n THEN round(chi2, 6) + 0.0 END AS chi2,
  tot.k - 1 AS df
FROM chi, tot, md
"""


_BM_A, _BM_B = "1-URGENT", "5-LOW"


def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel stochastic-superiority test, urgent vs low
    priority order values — midrank machinery, exact integer rank
    moments, scipy-shape W and Satterthwaite df."""
    from csp_gateway_spark.operators.analytics import brunner_munzel

    orders = _t(spark, sf_dir, "orders")
    out = brunner_munzel(orders, "o_orderpriority", "o_totalprice", _BM_A, _BM_B)
    return out.select(
        "n_a",
        "n_b",
        (F.round("p_hat", 8) + F.lit(0.0)).alias("p_hat"),
        (F.round("w", 6) + F.lit(0.0)).alias("w"),
        (F.round("df", 4) + F.lit(0.0)).alias("df"),
    )


ORACLE_BRUNNER_MUNZEL = f"""
WITH b AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
  WHERE o_orderpriority IN ('{_BM_A}', '{_BM_B}')
), pv AS (
  SELECT v,
    CAST(SUM(CASE WHEN g = '{_BM_A}' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN g = '{_BM_B}' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM b GROUP BY 1
), rk AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
  FROM pv
), tm AS (
  SELECT ca, cb,
    2 * ((cuma + cumb) - (ca + cb)) + (ca + cb) + 1 AS r2,
    2 * (cuma - ca) + ca + 1 AS r2a,
    2 * (cumb - cb) + cb + 1 AS r2b
  FROM rk
), s AS (
  SELECT
    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
    SUM(CAST(ca AS DECIMAL(13,0)) * CAST(r2 AS DECIMAL(20,0))) AS s2ra,
    SUM(CAST(cb AS DECIMAL(13,0)) * CAST(r2 AS DECIMAL(20,0))) AS s2rb,
    SUM(CAST(ca AS DECIMAL(13,0)) * CAST(r2 - r2a AS DECIMAL(13,0))) AS sda,
    SUM(CAST(cb AS DECIMAL(13,0)) * CAST(r2 - r2b AS DECIMAL(13,0))) AS sdb,
    SUM(CAST(ca AS DECIMAL(13,0)) * CAST(CAST(r2 - r2a AS DECIMAL(13,0)) * CAST(r2 - r2a AS DECIMAL(13,0)) AS DECIMAL(27,0))) AS sda2,
    SUM(CAST(cb AS DECIMAL(13,0)) * CAST(CAST(r2 - r2b AS DECIMAL(13,0)) * CAST(r2 - r2b AS DECIMAL(13,0)) AS DECIMAL(27,0))) AS sdb2
  FROM tm
), f AS (
  SELECT na, nb,
    CAST(s2ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)) AS rma,
    CAST(s2rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)) AS rmb,
    (CAST(sda2 AS DOUBLE) - CAST(sda AS DOUBLE) * CAST(sda AS DOUBLE) / CAST(na AS DOUBLE))
      / (4.0 * (CAST(na AS DOUBLE) - 1.0)) AS s2a,
    (CAST(sdb2 AS DOUBLE) - CAST(sdb AS DOUBLE) * CAST(sdb AS DOUBLE) / CAST(nb AS DOUBLE))
      / (4.0 * (CAST(nb AS DOUBLE) - 1.0)) AS s2b
  FROM s
)
SELECT na AS n_a, nb AS n_b,
  round((rmb - (CAST(nb AS DOUBLE) + 1.0) / 2.0) / CAST(na AS DOUBLE), 8) + 0.0 AS p_hat,
  CASE WHEN CAST(na AS DOUBLE) * s2a + CAST(nb AS DOUBLE) * s2b > 0 THEN
    round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * (rmb - rma)
          / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
          / sqrt(CAST(na AS DOUBLE) * s2a + CAST(nb AS DOUBLE) * s2b), 6) + 0.0
  END AS w,
  CASE WHEN CAST(na AS DOUBLE) * s2a + CAST(nb AS DOUBLE) * s2b > 0 THEN
    round((CAST(na AS DOUBLE) * s2a + CAST(nb AS DOUBLE) * s2b)
          * (CAST(na AS DOUBLE) * s2a + CAST(nb AS DOUBLE) * s2b)
          / ((CAST(na AS DOUBLE) * s2a) * (CAST(na AS DOUBLE) * s2a) / (CAST(na AS DOUBLE) - 1.0)
             + (CAST(nb AS DOUBLE) * s2b) * (CAST(nb AS DOUBLE) * s2b) / (CAST(nb AS DOUBLE) - 1.0)), 4) + 0.0
  END AS df
FROM f
"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed (day_num, rev) daily-revenue series (~|days|
    rows) — `theil_sen_daily` and `mase_backtest` each rebuilt the
    identical orders scan + groupBy otherwise (r14)."""

    def build():
        orders = _t(spark, sf_dir, "orders")
        return orders.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("day_num")
        ).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        ).localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "daily_revenue", build)


#: unix_date(day) == day_num + this offset (both are exact day counts)
_DR_UNIX_OFFSET = (_dt.date(1992, 1, 1) - _dt.date(1970, 1, 1)).days


def _dr(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    val: str,
    *,
    date_key: bool = False,
    unix_key: bool = False,
    double_val: bool = False,
) -> DataFrame:
    """Renamed views over the ONE shared `_daily_revenue` collapse for
    the whole daily-series family (r14).  Every consumer's own first
    step is ``groupBy(day).agg(SUM(CAST(price AS DECIMAL(18,2))))`` —
    re-aggregating the pre-collapsed (day, rev) series through that
    step is the identity (one row per key; the (18,2) cast is a no-op
    on rev), so results are bit-identical.  Key encodings map
    exactly: ``date_key`` reconstructs the calendar date
    (date_add(epoch, day_num) inverts datediff), ``unix_key`` shifts
    to unix_date's 1970 epoch by the constant day offset."""
    df = _daily_revenue(spark, sf_dir)
    if date_key:
        k = F.date_add(F.lit(_LAG_CORR_EPOCH).cast("date"), F.col("day_num"))
    elif unix_key:
        k = F.col("day_num") + F.lit(_DR_UNIX_OFFSET)
    else:
        k = F.col("day_num")
    v = F.col("rev").cast("double") if double_val else F.col("rev")
    return df.select(k.alias(key), v.alias(val))


_SQL_DAILY_REV = f"""
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
"""


def q_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily revenue — exact order-statistic
    median over the contract-bounded pairwise-slope distribution."""
    from csp_gateway_spark.operators.analytics import theil_sen_slope

    out = theil_sen_slope(_daily_revenue(spark, sf_dir), "day_num", "rev")
    return out.select(
        "n_points",
        "n_pairs",
        (F.round("slope", 8) + F.lit(0.0)).alias("slope"),
    )


ORACLE_THEIL_SEN_DAILY = f"""
WITH d AS (
{_SQL_DAILY_REV}
), p AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
  FROM d a JOIN d b ON b.x > a.x
), cells AS (
  SELECT s, CAST(count(*) AS BIGINT) AS w FROM p GROUP BY 1
), rk AS (
  SELECT s, w,
    SUM(w) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells
), t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM cells),
kk AS (SELECT (tot + tot % 2) // 2 AS lo, (tot - tot % 2) // 2 + 1 AS hi, tot FROM t),
lom AS (SELECT s FROM rk, kk WHERE cum >= kk.lo AND cum - w < kk.lo),
him AS (SELECT s FROM rk, kk WHERE cum >= kk.hi AND cum - w < kk.hi),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM d)
SELECT np.n_points, kk.tot AS n_pairs,
  round((lom.s + him.s) / 2.0, 8) + 0.0 AS slope
FROM np, kk, lom, him
"""


_MASE_SEASON, _MASE_H = 7, 28


def q_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive MASE/sMAPE backtest of daily revenue: hold out
    the last 28 days, forecast each from one season back in-train."""
    from csp_gateway_spark.operators.analytics import mase_backtest

    out = mase_backtest(
        _daily_revenue(spark, sf_dir), "day_num", "rev",
        season=_MASE_SEASON, horizon=_MASE_H,
    )
    return out.select(
        "n",
        "train_n",
        "horizon",
        (F.round("mase", 8) + F.lit(0.0)).alias("mase"),
        (F.round("smape", 8) + F.lit(0.0)).alias("smape"),
    )


ORACLE_MASE_BACKTEST = f"""
WITH d AS (
{_SQL_DAILY_REV}
), t AS (
  SELECT list(CAST(y AS DOUBLE) ORDER BY x) AS ys, CAST(count(*) AS BIGINT) AS n
  FROM d
), s AS (
  SELECT n, ys, n - {_MASE_H} AS tn,
    list_reduce(list_prepend(0.0, list_transform(
      range({_MASE_SEASON} + 1, n - {_MASE_H} + 1),
      tt -> abs(ys[tt] - ys[tt - {_MASE_SEASON}]))), (a, b) -> a + b)
      / CAST(n - {_MASE_H} - {_MASE_SEASON} AS DOUBLE) AS sc
  FROM t
), e AS (
  SELECT n, tn, sc,
    list_reduce(list_prepend(0.0, list_transform(range(1, {_MASE_H} + 1),
      j -> abs(ys[tn + j] - ys[tn + j - {_MASE_SEASON} * CAST(CEIL(CAST(j AS DOUBLE) / {_MASE_SEASON}.0) AS BIGINT)]))),
      (a, b) -> a + b) AS ae,
    list_reduce(list_prepend(0.0, list_transform(range(1, {_MASE_H} + 1),
      j -> 2.0 * abs(ys[tn + j] - ys[tn + j - {_MASE_SEASON} * CAST(CEIL(CAST(j AS DOUBLE) / {_MASE_SEASON}.0) AS BIGINT)])
           / (abs(ys[tn + j]) + abs(ys[tn + j - {_MASE_SEASON} * CAST(CEIL(CAST(j AS DOUBLE) / {_MASE_SEASON}.0) AS BIGINT)])))),
      (a, b) -> a + b) AS sm
  FROM s
)
SELECT n, tn AS train_n, CAST({_MASE_H} AS BIGINT) AS horizon,
  CASE WHEN tn > {_MASE_SEASON} AND sc > 0
       THEN round(ae / {_MASE_H}.0 / sc, 8) + 0.0 END AS mase,
  round(sm / {_MASE_H}.0, 8) + 0.0 AS smape
FROM e
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift vs the global centroid —
    fixed-point exact per-dimension sums, pos-sorted cosine folds."""
    from csp_gateway_spark.operators.similarity import embedding_drift

    emb = _ts(spark, sf_dir, "embeddings")
    docs = _ts(spark, sf_dir, "documents")
    out = embedding_drift(emb, docs)
    return out.select(
        "source",
        "n_vecs",
        (F.round("cos_to_global", 8) + F.lit(0.0)).alias("cos_to_global"),
        (F.round("centroid_norm", 6) + F.lit(0.0)).alias("centroid_norm"),
    ).orderBy("source")


ORACLE_EMBEDDING_DRIFT = """
WITH j AS (
  SELECT d.source AS g, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), fl AS (
  SELECT g, r.p AS pos, CAST(FLOOR(v[r.p] * 1048576.0) AS BIGINT) AS q
  FROM j, unnest(range(1, len(v) + 1)) r(p)
), per AS (
  SELECT g, pos, CAST(SUM(q) AS DECIMAL(38,0)) AS s, CAST(count(*) AS BIGINT) AS n
  FROM fl GROUP BY 1, 2
), gl AS (
  SELECT pos, CAST(SUM(s) AS DECIMAL(38,0)) AS gs FROM per GROUP BY 1
), pk AS (
  SELECT g, MAX(n) AS nv,
    list(struct_pack(s := CAST(s AS DOUBLE), gs := CAST(gs AS DOUBLE)) ORDER BY pos) AS z
  FROM per JOIN gl USING (pos) GROUP BY 1
), f AS (
  SELECT g, nv,
    list_reduce(list_prepend(0.0, list_transform(z, e -> e.s * e.gs)), (a, b) -> a + b) AS dot,
    list_reduce(list_prepend(0.0, list_transform(z, e -> e.s * e.s)), (a, b) -> a + b) AS aa,
    list_reduce(list_prepend(0.0, list_transform(z, e -> e.gs * e.gs)), (a, b) -> a + b) AS bb
  FROM pk
)
SELECT g AS source, CAST(nv AS BIGINT) AS n_vecs,
  CASE WHEN aa > 0 AND bb > 0
       THEN round(dot / (sqrt(aa) * sqrt(bb)), 8) + 0.0 END AS cos_to_global,
  round(sqrt(aa) / (CAST(nv AS DOUBLE) * 1048576.0), 6) + 0.0 AS centroid_norm
FROM f ORDER BY source
"""



def q_quantiles_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles of l_extendedprice at 5 probabilities via
    the probe_order_stats log-depth selection — never a full sort or a
    distinct-value-wide cumulative."""
    from csp_gateway_spark.operators.analytics import quantiles_probe

    li = _t(spark, sf_dir, "lineitem")
    out = quantiles_probe(li, "l_extendedprice")
    return out.select(
        "prob",
        "rank",
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
    )


ORACLE_QUANTILES_PROBE = """
WITH pv AS (
  SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
), rk AS (
  SELECT v, c,
    SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pv),
t(p) AS (VALUES (0.01), (0.25), (0.5), (0.75), (0.99)),
tk AS (SELECT p, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS k FROM t, nt)
SELECT CAST(p AS DOUBLE) AS prob, k AS rank,
  round(CAST(v AS DOUBLE), 6) + 0.0 AS value
FROM tk JOIN rk ON cum >= k AND cum - c < k
"""


_IQR_K = 1.5


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report on l_extendedprice — exact q1/q3
    from the shared selection engine, one scan-only fence count."""
    from csp_gateway_spark.operators.analytics import iqr_outliers

    li = _t(spark, sf_dir, "lineitem")
    out = iqr_outliers(li, "l_extendedprice", k=_IQR_K)
    return out.select(
        "n",
        (F.round("q1", 6) + F.lit(0.0)).alias("q1"),
        (F.round("q3", 6) + F.lit(0.0)).alias("q3"),
        (F.round("lo_fence", 6) + F.lit(0.0)).alias("lo_fence"),
        (F.round("hi_fence", 6) + F.lit(0.0)).alias("hi_fence"),
        "n_low",
        "n_high",
        (F.round("outlier_share", 8) + F.lit(0.0)).alias("outlier_share"),
    )


ORACLE_IQR_OUTLIERS = f"""
WITH pv AS (
  SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
), rk AS (
  SELECT v, c,
    SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pv
), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pv),
kk AS (
  SELECT GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) AS k1,
         GREATEST(1, CAST(CEIL(0.75 * n) AS BIGINT)) AS k3, n
  FROM nt
), q1r AS (SELECT CAST(v AS DOUBLE) AS q1 FROM rk, kk WHERE cum >= k1 AND cum - c < k1),
q3r AS (SELECT CAST(v AS DOUBLE) AS q3 FROM rk, kk WHERE cum >= k3 AND cum - c < k3),
f AS (
  SELECT n, q1, q3,
         q1 - {_IQR_K} * (q3 - q1) AS lo_f,
         q3 + {_IQR_K} * (q3 - q1) AS hi_f
  FROM kk, q1r, q3r
), cnt AS (
  SELECT
    CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) < lo_f THEN 1 ELSE 0 END) AS BIGINT) AS nl,
    CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) > hi_f THEN 1 ELSE 0 END) AS BIGINT) AS nh
  FROM lineitem, f
)
SELECT n, round(q1, 6) + 0.0 AS q1, round(q3, 6) + 0.0 AS q3,
  round(lo_f, 6) + 0.0 AS lo_fence, round(hi_f, 6) + 0.0 AS hi_fence,
  nl AS n_low, nh AS n_high,
  round(CAST(nl + nh AS DOUBLE) / CAST(n AS DOUBLE), 8) + 0.0 AS outlier_share
FROM f, cnt
"""



_AB_A, _AB_B = "2-HIGH", "4-NOT SPECIFIED"


def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test, high vs not-specified priority order
    values — both-ends rank scores, tie-exact conditional moments."""
    from csp_gateway_spark.operators.analytics import ansari_bradley

    orders = _t(spark, sf_dir, "orders")
    out = ansari_bradley(orders, "o_orderpriority", "o_totalprice", _AB_A, _AB_B)
    return out.select(
        "n_a",
        "n_b",
        (F.round("ab_stat", 4) + F.lit(0.0)).alias("ab_stat"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_ANSARI_BRADLEY = f"""
WITH b AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
  WHERE o_orderpriority IN ('{_AB_A}', '{_AB_B}')
), pv AS (
  SELECT v,
    CAST(SUM(CASE WHEN g = '{_AB_A}' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN g = '{_AB_B}' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM b GROUP BY 1
), nt AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv
), rk AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
  FROM pv
), tm AS (
  SELECT ca, cb,
    LEAST(2 * ((cuma + cumb) - (ca + cb)) + (ca + cb) + 1,
          2 * (na + nb + 1) - (2 * ((cuma + cumb) - (ca + cb)) + (ca + cb) + 1)) AS s2
  FROM rk, nt
), s AS (
  SELECT na, nb,
    SUM(CAST(ca AS DECIMAL(13,0)) * CAST(s2 AS DECIMAL(13,0))) AS a2,
    SUM(CAST(ca + cb AS DECIMAL(13,0)) * CAST(s2 AS DECIMAL(13,0))) AS t2,
    SUM(CAST(ca + cb AS DECIMAL(13,0)) * CAST(CAST(s2 AS DECIMAL(13,0)) * CAST(s2 AS DECIMAL(13,0)) AS DECIMAL(27,0))) AS t2q
  FROM tm, nt GROUP BY 1, 2
), f AS (
  SELECT na, nb,
    CAST(a2 AS DOUBLE) / 2.0 AS a_stat,
    CAST(na AS DOUBLE) * (CAST(t2 AS DOUBLE) / 2.0)
      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS e_a,
    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) * (CAST(t2q AS DOUBLE) / 4.0)
         - (CAST(t2 AS DOUBLE) / 2.0) * (CAST(t2 AS DOUBLE) / 2.0))
      / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
         * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
         * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)) AS var_a
  FROM s
)
SELECT na AS n_a, nb AS n_b,
  round(a_stat, 4) + 0.0 AS ab_stat,
  CASE WHEN var_a > 0 THEN round((a_stat - e_a) / sqrt(var_a), 6) + 0.0 END AS z
FROM f
"""




# ---------------------------------------------------------------------------
# WAVE 31 (round 13) — ordered-trend tests + MATTR lexical diversity
# ---------------------------------------------------------------------------

_JT_PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']


def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend: does order value
    trend with priority class?  k-1 pooled Mann-Whitney passes over
    one shared distinct-value collapse; 2J and all null moments exact
    integers."""
    from csp_gateway_spark.operators.analytics import jonckheere_terpstra

    orders = _t(spark, sf_dir, "orders")
    out = jonckheere_terpstra(
        orders, "o_orderpriority", "o_totalprice", _JT_PRIORITIES
    )
    return out.select(
        "n", "k", "jt2", (F.round("z", 6) + F.lit(0.0)).alias("z")
    )


ORACLE_JONCKHEERE = """
WITH cells AS (
  SELECT o_totalprice AS v,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, c0, c1, c2, c3, c4, SUM(c0) OVER w AS m0, SUM(c1) OVER w AS m1, SUM(c2) OVER w AS m2, SUM(c3) OVER w AS m3, SUM(c4) OVER w AS m4
  FROM cells WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
), jt AS (
  SELECT CAST(SUM(c1*(2*(m0) - (c0)) + c2*(2*(m0 + m1) - (c0 + c1)) + c3*(2*(m0 + m1 + m2) - (c0 + c1 + c2)) + c4*(2*(m0 + m1 + m2 + m3) - (c0 + c1 + c2 + c3))) AS BIGINT) AS jt2 FROM cum
), nj AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2, CAST(SUM(c3) AS BIGINT) AS n3, CAST(SUM(c4) AS BIGINT) AS n4 FROM cells
), tie AS (
  SELECT
    CAST(SUM(t*(t-1)*(2*t+5)) AS BIGINT) AS t25,
    CAST(SUM(t*(t-1)*(t-2)) AS BIGINT) AS t3,
    CAST(SUM(t*(t-1)) AS BIGINT) AS t2
  FROM (SELECT c0 + c1 + c2 + c3 + c4 AS t FROM cells)
), mo AS (
  SELECT jt2,
    n0 + n1 + n2 + n3 + n4 AS bn,
    n0*n1 + n0*n2 + n0*n3 + n0*n4 + n1*n2 + n1*n3 + n1*n4 + n2*n3 + n2*n4 + n3*n4 AS two_e,
    t25, t3, t2,
    n0*(n0-1)*(2*n0+5) + n1*(n1-1)*(2*n1+5) + n2*(n2-1)*(2*n2+5) + n3*(n3-1)*(2*n3+5) + n4*(n4-1)*(2*n4+5) AS n25,
    n0*(n0-1)*(n0-2) + n1*(n1-1)*(n1-2) + n2*(n2-1)*(n2-2) + n3*(n3-1)*(n3-2) + n4*(n4-1)*(n4-2) AS n3,
    n0*(n0-1) + n1*(n1-1) + n2*(n2-1) + n3*(n3-1) + n4*(n4-1) AS n2
  FROM jt, nj, tie
), fin AS (
  SELECT jt2, bn, two_e,
    (bn*(bn-1)*(2*bn+5) - n25 - t25) / 72.0
      + (n3 * t3) / (36.0 * bn * (bn - 1) * (bn - 2))
      + (n2 * t2) / (8.0 * bn * (bn - 1)) AS var
  FROM mo
)
SELECT CAST(bn AS BIGINT) AS n, CAST(5 AS BIGINT) AS k, jt2,
  CASE WHEN bn >= 3 AND var > 0
       THEN round((jt2 - two_e) / (2.0 * sqrt(var)), 6) + 0.0 END AS z
FROM fin
"""


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage proportion trend: does the return rate trend
    with line quantity?  One map-combined aggregate, exact decimal
    score sums, closed-form chi2/z."""
    from csp_gateway_spark.operators.analytics import cochran_armitage

    li = _t(spark, sf_dir, "lineitem")
    out = cochran_armitage(
        li.withColumn("_ret", (F.col("l_returnflag") == "R").cast("int")),
        "l_quantity", "_ret",
    )
    return out.select(
        "n", "successes",
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
        (F.round("chi2", 6) + F.lit(0.0)).alias("chi2"),
    )


ORACLE_COCHRAN_ARMITAGE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sw,
    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sw2,
    SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS t
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), f AS (
  SELECT n, r,
    CAST(n AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * CAST(sw AS DOUBLE) AS num,
    CAST(r AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))
      * (CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) AS den
  FROM s
)
SELECT n, r AS successes,
  CASE WHEN den > 0 THEN round(sign(num) * sqrt(CAST(n AS DOUBLE) * num * num / den), 6) + 0.0 END AS z,
  CASE WHEN den > 0 THEN round(CAST(n AS DOUBLE) * num * num / den, 6) + 0.0 END AS chi2
FROM f
"""


_MATTR_W = 50


def q_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity per source (pooled integer ratio):
    sliding-window distinct counts via the per-position closed form —
    O(tokens), one (doc, token) lag shuffle, never O(tokens*window)."""
    from csp_gateway_spark.operators.corpus import mattr_diversity

    docs = _ts(spark, sf_dir, "documents")
    out = mattr_diversity(docs, window=_MATTR_W)
    return out.select(
        "source", "n_docs", "n_windows",
        (F.round("mattr", 6) + F.lit(0.0)).alias("mattr"),
    ).orderBy("source")


def _oracle_mattr_diversity() -> str:
    toks = _SQL_TOKS.replace("trim(lower(text))", _SQL_NORM)
    w = _MATTR_W
    return f"""
WITH tk AS (
  SELECT doc_id, source, {toks} AS arr FROM documents
), pos AS (
  SELECT doc_id, source, len(arr) AS n,
         unnest(arr) AS t, generate_subscripts(arr, 1) AS p
  FROM tk
), prv AS (
  SELECT source, n, p,
    COALESCE(lag(p) OVER (PARTITION BY doc_id, t ORDER BY p), 0) AS prev
  FROM pos
), dsum AS (
  SELECT source, CAST(SUM(
    CASE WHEN n >= {w}
         THEN greatest(0, least(p, n - {w} + 1) - greatest(1, p - {w} + 1, prev + 1) + 1)
         ELSE CASE WHEN prev = 0 THEN 1 ELSE 0 END END) AS BIGINT) AS dist
  FROM prv GROUP BY 1
), lens AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN n >= {w} THEN n - {w} + 1
                  WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN n >= {w} THEN (n - {w} + 1) * {w} ELSE n END) AS BIGINT) AS ln
  FROM (SELECT source, len({toks}) AS n FROM documents) GROUP BY 1
)
SELECT lens.source AS source, n_docs, n_windows,
  CASE WHEN ln > 0
       THEN round(CAST(COALESCE(dist, 0) AS DOUBLE) / CAST(ln AS DOUBLE), 6) + 0.0
  END AS mattr
FROM lens LEFT JOIN dsum ON lens.source = dsum.source
ORDER BY source
"""


def q_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal γ + both Somers' D between line number and
    quantity — concordance effect sizes on the bounded 350-cell joint
    table (the kendall_tau cell self-join; pair space never
    materializes)."""
    from csp_gateway_spark.operators.analytics import ordinal_association

    li = _t(spark, sf_dir, "lineitem")
    out = ordinal_association(li, "l_linenumber", "l_quantity")
    return out.select(
        "n", "concordant", "discordant",
        (F.round("gamma", 6) + F.lit(0.0)).alias("gamma"),
        (F.round("somers_ba", 6) + F.lit(0.0)).alias("somers_ba"),
        (F.round("somers_ab", 6) + F.lit(0.0)).alias("somers_ab"),
    )


ORACLE_ORDINAL_ASSOC = """
WITH cells AS (
  SELECT l_linenumber AS a, l_quantity AS b, CAST(count(*) AS BIGINT) AS f
  FROM lineitem WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
), pc AS (
  SELECT
    COALESCE(SUM(CASE WHEN c2.b < c1.b THEN CAST(c1.f AS HUGEINT) * c2.f END), 0) AS c,
    COALESCE(SUM(CASE WHEN c2.b > c1.b THEN CAST(c1.f AS HUGEINT) * c2.f END), 0) AS d
  FROM cells c1 JOIN cells c2 ON c2.a < c1.a
), ta AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS n1x2, SUM(CAST(t AS HUGEINT)) AS n
  FROM (SELECT SUM(f) AS t FROM cells GROUP BY a)
), tb AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS n2x2
  FROM (SELECT SUM(f) AS t FROM cells GROUP BY b)
), z AS (
  SELECT CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) AS two_n0,
         CAST(n1x2 AS DOUBLE) AS two_n1, CAST(n2x2 AS DOUBLE) AS two_n2,
         CAST(c AS DOUBLE) - CAST(d AS DOUBLE) AS cd,
         CAST(c AS DOUBLE) + CAST(d AS DOUBLE) AS cpd,
         n, c, d
  FROM pc, ta, tb
)
SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
  round(CASE WHEN cpd > 0 THEN cd / cpd END, 6) + 0.0 AS gamma,
  round(CASE WHEN two_n0 - two_n1 > 0 THEN 2.0 * cd / (two_n0 - two_n1) END, 6) + 0.0 AS somers_ba,
  round(CASE WHEN two_n0 - two_n2 > 0 THEN 2.0 * cd / (two_n0 - two_n2) END, 6) + 0.0 AS somers_ab
FROM z
"""


def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root t on daily order revenue (lag-1 with
    intercept over calendar-adjacent days) — "is the revenue series a
    random walk or mean-reverting?"; exact five-sum OLS closed form,
    zero windows."""
    from csp_gateway_spark.operators.analytics import dickey_fuller

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "v")
    out = dickey_fuller(daily, "k", "v")
    return out.select(
        "n_pairs",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("t_stat", 6) + F.lit(0.0)).alias("t_stat"),
    )


ORACLE_DICKEY_FULLER = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS v
  FROM orders GROUP BY 1
), p AS (
  SELECT b.v AS x, CAST(a.v - b.v AS DECIMAL(19,2)) AS dv
  FROM d a JOIN d b ON a.k = b.k + 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(dv) AS sd,
         SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
         SUM(CAST(dv * dv AS DECIMAL(38,4))) AS sdd,
         SUM(CAST(x * dv AS DECIMAL(38,4))) AS sxd
  FROM p
), f AS (
  SELECT n,
    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
    CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS cxd,
    CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS cdd
  FROM s
)
SELECT n AS n_pairs,
  round(CASE WHEN cxx > 0 THEN cxd / cxx END, 6) + 0.0 AS beta,
  round(CASE WHEN n > 2 AND cxx > 0 AND cdd - cxd * cxd / cxx > 0
        THEN (cxd / cxx) / sqrt(((cdd - cxd * cxd / cxx) / (CAST(n AS DOUBLE) - 2.0)) / cxx)
  END, 6) + 0.0 AS t_stat
FROM f
"""


_HURST_WS = (16, 32, 64, 128)


def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily order revenue by rescaled-range (R/S)
    over dyadic blocks — persistence vs mean-reversion; exact-decimal
    block ranges, bounded partitioned windows only."""
    from csp_gateway_spark.operators.analytics import hurst_exponent

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "v")
    out = hurst_exponent(daily, "k", "v", window_sizes=_HURST_WS)
    return out.select(
        "w",
        "n_blocks",
        (F.round("rs_mean", 6) + F.lit(0.0)).alias("rs_mean"),
        (F.round("hurst", 6) + F.lit(0.0)).alias("hurst"),
    ).orderBy("w")


ORACLE_HURST_RS = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
), rk AS (
  SELECT k, v, row_number() OVER (ORDER BY k) AS rn, count(*) OVER () AS n_total
  FROM d
), fan AS (
  SELECT w, v,
         (rn - 1) // w AS blk,
         (rn - 1) - ((rn - 1) // w) * w + 1 AS pos
  FROM rk CROSS JOIN (VALUES (16), (32), (64), (128)) t(w)
  WHERE (rn - 1) // w < n_total // w
), b AS (
  SELECT w, blk, pos,
    SUM(CAST(v AS DECIMAL(30,2))) OVER (PARTITION BY w, blk ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(CAST(v AS DECIMAL(30,2))) OVER (PARTITION BY w, blk) AS s,
    SUM(CAST(CAST(v AS DECIMAL(19,2)) * CAST(v AS DECIMAL(19,2)) AS DECIMAL(38,4))) OVER (PARTITION BY w, blk) AS ss
  FROM fan
), pb AS (
  SELECT w, blk,
    MAX(CAST(w AS DECIMAL(6,0)) * CAST(cum AS DECIMAL(31,2))
        - CAST(pos AS DECIMAL(6,0)) * CAST(s AS DECIMAL(31,2)))
    - MIN(CAST(w AS DECIMAL(6,0)) * CAST(cum AS DECIMAL(31,2))
        - CAST(pos AS DECIMAL(6,0)) * CAST(s AS DECIMAL(31,2))) AS r,
    FIRST(s) AS sb, FIRST(ss) AS ssb
  FROM b GROUP BY 1, 2
), rs AS (
  SELECT w, blk,
    CASE WHEN CAST(w AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
         THEN CAST(r AS DOUBLE)
              / sqrt(CAST(w AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
    END AS rs
  FROM pb
), pw AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks, AVG(rs) AS rs_mean
  FROM rs GROUP BY 1
), fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         SUM(ln(CAST(w AS DOUBLE))) AS sx, SUM(ln(rs_mean)) AS sy,
         SUM(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE))) AS sxx,
         SUM(ln(CAST(w AS DOUBLE)) * ln(rs_mean)) AS sxy
  FROM pw WHERE rs_mean > 0
)
SELECT CAST(w AS INTEGER) AS w, n_blocks,
  round(rs_mean, 6) + 0.0 AS rs_mean,
  round(CASE WHEN m * sxx - sx * sx > 0
        THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6) + 0.0 AS hurst
FROM pw, fit ORDER BY w
"""


_AD_A, _AD_B = "click", "purchase"


def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample Anderson-Darling (tie-adjusted A²akN, k=2): are click
    and purchase event values drawn from one distribution?  The
    tail-weighted drift gate; exact-integer cells + one shared
    cumulative, fixed-point harmonic normalization."""
    from csp_gateway_spark.operators.analytics import anderson_ksamp

    ev = _t(spark, sf_dir, "events")
    out = anderson_ksamp(ev, "event_type", "value", [_AD_A, _AD_B])
    return out.select(
        "n", "k",
        (F.round("a2", 6) + F.lit(0.0)).alias("a2"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_ANDERSON_DARLING = f"""
WITH b AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{_AD_A}', '{_AD_B}') AND value IS NOT NULL
), pv AS (
  SELECT v,
    CAST(SUM(CASE WHEN g = '{_AD_A}' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(SUM(CASE WHEN g = '{_AD_B}' THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM b GROUP BY 1
), nt AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c0 + c1) AS BIGINT) AS nn
  FROM pv
), rk AS (
  SELECT c0, c1, c0 + c1 AS h,
    SUM(c0) OVER w AS m0, SUM(c1) OVER w AS m1
  FROM pv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
), cell AS (
  SELECT h,
    CAST(CAST(nn AS HUGEINT) * (2 * m0 - c0) - CAST(n0 AS HUGEINT) * (2 * (m0 + m1) - h) AS DOUBLE) AS x0,
    CAST(CAST(nn AS HUGEINT) * (2 * m1 - c1) - CAST(n1 AS HUGEINT) * (2 * (m0 + m1) - h) AS DOUBLE) AS x1,
    CAST(2 * CAST(nn AS HUGEINT) * (2 * (m0 + m1) - h)
         - CAST(2 * (m0 + m1) - h AS HUGEINT) * CAST(2 * (m0 + m1) - h AS HUGEINT)
         - CAST(nn AS HUGEINT) * h AS DOUBLE) AS y
  FROM rk, nt
), terms AS (
  SELECT SUM(CAST(h AS DOUBLE) * x0 * x0 / y) AS s0,
         SUM(CAST(h AS DOUBLE) * x1 * x1 / y) AS s1
  FROM cell
), a2c AS (
  SELECT CAST(nn - 1 AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
         * (s0 / CAST(n0 AS DOUBLE) + s1 / CAST(n1 AS DOUBLE)) AS a2
  FROM terms, nt
), hh AS (
  SELECT i, SUM(ht) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS ch, ht
  FROM (SELECT i, 100000000000000000 // i AS ht
        FROM (SELECT unnest(range(1, (SELECT CAST(nn AS BIGINT) FROM nt))) AS i))
), ht2 AS (
  SELECT CAST(SUM(ht) AS BIGINT) AS cht FROM hh
), gg AS (
  SELECT SUM(CAST(cht - ch AS DOUBLE) / 1e17
             / (CAST(nn AS DOUBLE) - CAST(i AS DOUBLE))) AS g
  FROM hh, ht2, nt WHERE i <= nn - 2
), mo AS (
  SELECT nn, a2,
    (4.0 * g - 6.0) * 1.0 + (10.0 - 6.0 * g) * bigH AS av,
    (2.0 * g - 4.0) * 4.0 + 8.0 * h * 2.0 + (2.0 * g - 14.0 * h - 4.0) * bigH - 8.0 * h + 4.0 * g - 6.0 AS bv,
    (6.0 * h + 2.0 * g - 2.0) * 4.0 + (4.0 * h - 6.0 * g + 2.0) * 2.0 + (2.0 * h - 6.0) * bigH + 4.0 * h AS cv,
    (2.0 * h + 6.0) * 4.0 - 4.0 * h * 2.0 AS dv
  FROM (
    SELECT nn, a2, g, CAST(cht AS DOUBLE) / 1e17 AS h,
           1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE) AS bigH
    FROM a2c, gg, ht2, nt)
), fin AS (
  SELECT nn, a2,
    (av * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
     + bv * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
     + cv * CAST(nn AS DOUBLE) + dv)
    / ((CAST(nn AS DOUBLE) - 1.0) * (CAST(nn AS DOUBLE) - 2.0) * (CAST(nn AS DOUBLE) - 3.0)) AS sigma_sq
  FROM mo
)
SELECT CAST(nn AS BIGINT) AS n, CAST(2 AS BIGINT) AS k,
  round(a2, 6) + 0.0 AS a2,
  CASE WHEN nn >= 4 AND sigma_sq > 0
       THEN round((a2 - 1.0) / sqrt(sigma_sq), 6) + 0.0 END AS z
FROM fin
"""


def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade range-weighted blocked rank test: months × order
    priorities on monthly revenue — the weighted sibling of the
    friedman gate; doubled midranks twice over keep every sum an
    exact integer."""
    from csp_gateway_spark.operators.analytics import quade_test

    orders = _t(spark, sf_dir, "orders")
    out = quade_test(
        orders,
        F.date_format(F.col("o_orderdate"), "yyyy-MM"),
        "o_orderpriority",
        "o_totalprice",
    )
    return out.select(
        "n_blocks", "k",
        (F.round("f_stat", 6) + F.lit(0.0)).alias("f_stat"),
    )


ORACLE_QUADE_TEST = """
WITH cells AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS b,
         o_orderpriority AS t,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1, 2
), kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
comp AS (
  SELECT b, t, y, COUNT(*) OVER (PARTITION BY b) AS cb FROM cells
), complete AS (
  SELECT b, t, y, kk.k FROM comp, kk WHERE cb = kk.k
), ranked AS (
  SELECT b, t, k,
    CAST(2 * rank() OVER (PARTITION BY b ORDER BY y)
         + COUNT(*) OVER (PARTITION BY b, y) - 1 AS BIGINT) AS r2
  FROM complete
), ranges AS (
  SELECT b, MAX(y) - MIN(y) AS rng FROM complete GROUP BY 1
), rc AS (
  SELECT rng, CAST(count(*) AS BIGINT) AS cnt FROM ranges GROUP BY 1
), rcum AS (
  SELECT rng, cnt,
    SUM(cnt) OVER (ORDER BY rng ROWS UNBOUNDED PRECEDING) AS cum
  FROM rc
), q2 AS (
  SELECT rng, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT) AS q2 FROM rcum
), bq AS (
  SELECT b, q2 FROM ranges JOIN q2 USING (rng)
), pc AS (
  SELECT r.b, r.t, r.k,
    CAST(q2 AS HUGEINT) * (r2 - (k + 1)) AS s4
  FROM ranked r JOIN bq USING (b)
), tot AS (
  SELECT CAST(count(DISTINCT b) AS BIGINT) AS n,
         CAST(MAX(k) AS BIGINT) AS kk2,
         SUM(CAST(s4 AS HUGEINT) * s4) AS a16
  FROM pc
), bs AS (
  SELECT SUM(CAST(sj AS HUGEINT) * sj) AS b16
  FROM (SELECT SUM(s4) AS sj FROM pc GROUP BY t)
)
SELECT n AS n_blocks, kk2 AS k,
  round(CASE WHEN n > 1
        AND CAST(a16 AS DOUBLE) - CAST(b16 AS DOUBLE) / CAST(n AS DOUBLE) > 0
        THEN (CAST(n AS DOUBLE) - 1.0)
             * (CAST(b16 AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(a16 AS DOUBLE) - CAST(b16 AS DOUBLE) / CAST(n AS DOUBLE))
  END, 6) + 0.0 AS f_stat
FROM tot, bs
"""


_VR_Q = 5


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio random-walk test on daily order
    revenue at q=5 — the momentum/mean-reversion companion of
    hurst_rs and dickey_fuller; two lag joins, exact decimal sums."""
    from csp_gateway_spark.operators.analytics import variance_ratio

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "v")
    out = variance_ratio(daily, "k", "v", q=_VR_Q)
    return out.select(
        "n1", "nq",
        (F.round("vr", 6) + F.lit(0.0)).alias("vr"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_VARIANCE_RATIO = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS v
  FROM orders GROUP BY 1
), d1 AS (
  SELECT CAST(a.v - b.v AS DECIMAL(19,2)) AS dd FROM d a JOIN d b ON a.k = b.k + 1
), dq AS (
  SELECT CAST(a.v - b.v AS DECIMAL(19,2)) AS dd FROM d a JOIN d b ON a.k = b.k + {_VR_Q}
), s1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n1, SUM(dd) AS s1,
         SUM(CAST(dd * dd AS DECIMAL(38,4))) AS ss1
  FROM d1
), sq AS (
  SELECT CAST(count(*) AS BIGINT) AS nq, SUM(dd) AS sq,
         SUM(CAST(dd * dd AS DECIMAL(38,4))) AS ssq
  FROM dq
), f AS (
  SELECT n1, nq,
    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS var1,
    (CAST(ssq AS DOUBLE)
     - 2.0 * {float(_VR_Q)} * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * CAST(sq AS DOUBLE)
     + CAST(nq AS DOUBLE) * {float(_VR_Q)} * {float(_VR_Q)}
       * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
    / ({float(_VR_Q)} * CAST(nq AS DOUBLE)) AS varq
  FROM s1, sq
)
SELECT n1, nq,
  round(CASE WHEN n1 > 1 AND nq > 0 AND var1 > 0 THEN varq / var1 END, 6) + 0.0 AS vr,
  round(CASE WHEN n1 > 1 AND nq > 0 AND var1 > 0
        THEN (varq / var1 - 1.0)
             / sqrt({2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1)} / ({3.0 * _VR_Q} * CAST(n1 AS DOUBLE)))
  END, 6) + 0.0 AS z
FROM f
"""


def q_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger F at lag 1: does yesterday's ORDER COUNT improve the
    prediction of today's revenue beyond yesterday's revenue?  Ten
    exact decimal sums + Cramer closed form, no matrix library."""
    from csp_gateway_spark.operators.analytics import granger_lag1

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("k"),
        F.col("o_totalprice").alias("y"),
        F.lit(1).alias("x"),
    )
    out = granger_lag1(daily, "k", "y", "x")
    return out.select(
        "n",
        (F.round("beta_x", 6) + F.lit(0.0)).alias("beta_x"),
        (F.round("f_stat", 6) + F.lit(0.0)).alias("f_stat"),
    )


ORACLE_GRANGER_LAG1 = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y,
         CAST(SUM(CAST(1 AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS x
  FROM orders GROUP BY 1
), p AS (
  SELECT c.y AS yy, pr.y AS a, pr.x AS bx
  FROM d c JOIN d pr ON c.k = pr.k + 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(a) AS sa, SUM(bx) AS sb, SUM(yy) AS sy,
    SUM(CAST(a * a AS DECIMAL(38,4))) AS saa,
    SUM(CAST(bx * bx AS DECIMAL(38,4))) AS sbb,
    SUM(CAST(a * bx AS DECIMAL(38,4))) AS sab,
    SUM(CAST(yy * yy AS DECIMAL(38,4))) AS syy,
    SUM(CAST(yy * a AS DECIMAL(38,4))) AS sya,
    SUM(CAST(yy * bx AS DECIMAL(38,4))) AS syb
  FROM p
), c AS (
  SELECT n,
    CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) AS caa,
    CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) AS cbb,
    CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) AS cab,
    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
    CAST(sya AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) AS cya,
    CAST(syb AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) AS cyb
  FROM s
), f AS (
  SELECT n, caa, cbb, cab, cyy, cya, cyb,
    caa * cbb - cab * cab AS det
  FROM c
), g AS (
  SELECT n, det, caa,
    (cya * cbb - cyb * cab) / det AS b1,
    (caa * cyb - cab * cya) / det AS b2,
    cyy, cya, cyb
  FROM f
), h AS (
  SELECT n, det, caa, b2,
    cyy - b1 * cya - b2 * cyb AS rss_u,
    cyy - cya * cya / caa AS rss_r
  FROM g
)
SELECT n,
  round(CASE WHEN n > 3 AND det > 0 AND caa > 0 THEN b2 END, 6) + 0.0 AS beta_x,
  round(CASE WHEN n > 3 AND det > 0 AND caa > 0 AND rss_u > 0
        THEN (rss_r - rss_u) / (rss_u / (CAST(n AS DOUBLE) - 3.0))
  END, 6) + 0.0 AS f_stat
FROM h
"""


def q_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration of daily revenue against daily
    order count — OLS residuals (broadcast scalars) + no-constant
    Dickey-Fuller on the residual series."""
    from csp_gateway_spark.operators.analytics import engle_granger

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("k"),
        F.col("o_totalprice").alias("y"),
        F.lit(1).alias("x"),
    )
    out = engle_granger(daily, "k", "y", "x")
    return out.select(
        "n_pairs",
        (F.round("alpha", 4) + F.lit(0.0)).alias("alpha"),
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("adf_t", 6) + F.lit(0.0)).alias("adf_t"),
    )


ORACLE_ENGLE_GRANGER = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y,
         CAST(SUM(CAST(1 AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS x
  FROM orders GROUP BY 1
), st1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
    SUM(x) AS sx, SUM(y) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM d
), co AS (
  SELECT
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n0 AS DOUBLE))
    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n0 AS DOUBLE)) AS beta,
    (CAST(sy AS DOUBLE)
     - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n0 AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n0 AS DOUBLE)))
       * CAST(sx AS DOUBLE)) / CAST(n0 AS DOUBLE) AS alpha
  FROM st1
), e AS (
  SELECT k, CAST(y AS DOUBLE) - alpha - beta * CAST(x AS DOUBLE) AS e, alpha, beta
  FROM d, co
), p AS (
  SELECT c.alpha, c.beta, pr.e AS ep, c.e - pr.e AS de
  FROM e c JOIN e pr ON c.k = pr.k + 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    FIRST(alpha) AS al, FIRST(beta) AS be,
    SUM(ep * ep) AS spp, SUM(ep * de) AS spd, SUM(de * de) AS sdd
  FROM p
)
SELECT n AS n_pairs,
  round(al, 4) + 0.0 AS alpha,
  round(be, 6) + 0.0 AS beta,
  round(CASE WHEN n > 1 AND spp > 0 AND sdd - spd * spd / spp > 0
        THEN (spd / spp)
             / sqrt(((sdd - spd * spd / spp) / (CAST(n AS DOUBLE) - 1.0)) / spp)
  END, 6) + 0.0 AS adf_t
FROM s
"""


def _order_value_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two 'measurements' of order value: the stamped o_totalprice vs
    the gross line-item sum — the method-comparison pair the
    deming/bland-altman gates fit.  ONE checkpointed build (r14):
    both consumers re-ran the lineitem groupBy + join otherwise."""

    def build():
        orders = _t(spark, sf_dir, "orders")
        li = _t(spark, sf_dir, "lineitem")
        line_sum = li.groupBy("l_orderkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_ls")
        )
        return (
            orders.join(
                line_sum, orders["o_orderkey"] == line_sum["l_orderkey"]
            )
            .select(
                F.col("o_totalprice").alias("x"),
                F.col("_ls").alias("y"),
            )
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "order_value_pair", build)


_ORDER_PAIR_SQL = """
  SELECT o.o_totalprice AS x, l.s AS y
  FROM orders o JOIN (
    SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
    FROM lineitem GROUP BY 1
  ) l ON o.o_orderkey = l.l_orderkey
"""


def q_deming_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-variables) regression of gross line sum on
    order totalprice — the method-comparison fit; five exact decimal
    sums, closed-form slope/intercept."""
    from csp_gateway_spark.operators.analytics import deming_regression

    out = deming_regression(_order_value_pair(spark, sf_dir), "x", "y")
    return out.select(
        "n",
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 4) + F.lit(0.0)).alias("intercept"),
    )


ORACLE_DEMING_FIT = f"""
WITH pair AS ({_ORDER_PAIR_SQL}),
b AS (
  SELECT CAST(x AS DECIMAL(19,2)) AS x, CAST(y AS DECIMAL(19,2)) AS y
  FROM pair WHERE x IS NOT NULL AND y IS NOT NULL
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx, SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM b
), c AS (
  SELECT n,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy
  FROM s
), f AS (
  SELECT n, sxd, syd, cxy,
    (cyy - 1.0 * cxx + sqrt((cyy - 1.0 * cxx) * (cyy - 1.0 * cxx) + 4.0 * 1.0 * cxy * cxy))
    / (2.0 * cxy) AS slope
  FROM c
)
SELECT n,
  round(CASE WHEN n > 1 AND cxy <> 0 THEN slope END, 6) + 0.0 AS slope,
  round(CASE WHEN n > 1 AND cxy <> 0
        THEN (syd - slope * sxd) / CAST(n AS DOUBLE) END, 4) + 0.0 AS intercept
FROM f
"""


def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement of order totalprice vs gross line sum:
    bias, SD, 95% limits of agreement, count outside — two aggregate
    passes, limits as one broadcast scalar row."""
    from csp_gateway_spark.operators.analytics import bland_altman

    out = bland_altman(_order_value_pair(spark, sf_dir), "x", "y")
    return out.select(
        "n",
        (F.round("mean_diff", 6) + F.lit(0.0)).alias("mean_diff"),
        (F.round("sd_diff", 6) + F.lit(0.0)).alias("sd_diff"),
        (F.round("loa_low", 6) + F.lit(0.0)).alias("loa_low"),
        (F.round("loa_high", 6) + F.lit(0.0)).alias("loa_high"),
        "n_outside",
    )


ORACLE_BLAND_ALTMAN = f"""
WITH pair AS ({_ORDER_PAIR_SQL}),
b AS (
  SELECT CAST(CAST(x AS DECIMAL(19,2)) - CAST(y AS DECIMAL(19,2)) AS DECIMAL(19,2)) AS d
  FROM pair WHERE x IS NOT NULL AND y IS NOT NULL
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(d AS DECIMAL(38,2))) AS sd,
    SUM(CAST(d * d AS DECIMAL(38,4))) AS sdd
  FROM b
), lim AS (
  SELECT n,
    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS md,
    CASE WHEN n > 1 THEN sqrt(
      (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0)) END AS sdev
  FROM s
), lim2 AS (
  SELECT n, md, sdev, md - 1.96 * sdev AS lo, md + 1.96 * sdev AS hi FROM lim
)
SELECT n,
  round(md, 6) + 0.0 AS mean_diff,
  round(sdev, 6) + 0.0 AS sd_diff,
  round(lo, 6) + 0.0 AS loa_low,
  round(hi, 6) + 0.0 AS loa_high,
  (SELECT CAST(SUM(CASE WHEN CAST(d AS DOUBLE) < lo OR CAST(d AS DOUBLE) > hi
                THEN 1 ELSE 0 END) AS BIGINT)
   FROM b) AS n_outside
FROM lim2
"""


def q_optimal_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal threshold for the document-length 'from src0'
    classifier (roc_auc's deployable-cutoff companion) — exact
    integer argmax key, TakeOrdered(1), never a global sort."""
    from csp_gateway_spark.operators.analytics import optimal_cutoff

    docs = _ts(spark, sf_dir, "documents")
    out = optimal_cutoff(
        docs.select(
            F.col("n_chars").alias("score"),
            (F.col("source") == "src0").cast("int").alias("label"),
        ),
        "score",
        "label",
    )
    return out.select(
        "n_pos", "n_neg", "threshold",
        (F.round("j_stat", 6) + F.lit(0.0)).alias("j_stat"),
        (F.round("sensitivity", 6) + F.lit(0.0)).alias("sensitivity"),
        (F.round("specificity", 6) + F.lit(0.0)).alias("specificity"),
    )


ORACLE_OPTIMAL_CUTOFF = """
WITH b AS (
  SELECT n_chars AS s, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS l
  FROM documents WHERE n_chars IS NOT NULL
), cells AS (
  SELECT s, CAST(SUM(l) AS BIGINT) AS p, CAST(SUM(1 - l) AS BIGINT) AS q
  FROM b GROUP BY 1
), cum AS (
  SELECT s, p, q,
    SUM(p) OVER w AS cp, SUM(q) OVER w AS cq
  FROM cells WINDOW w AS (ORDER BY s ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS tp_all, CAST(SUM(q) AS BIGINT) AS tn_all
  FROM cells
), j AS (
  SELECT s, tp_all, tn_all,
    tp_all - (cp - p) AS tp, tn_all - (cq - q) AS fp,
    CAST(tp_all - (cp - p) AS HUGEINT) * tn_all
      - CAST(tn_all - (cq - q) AS HUGEINT) * tp_all AS jn
  FROM cum, tot
)
SELECT tp_all AS n_pos, tn_all AS n_neg, s AS threshold,
  round(CASE WHEN tp_all > 0 AND tn_all > 0
        THEN CAST(jn AS DOUBLE) / (CAST(tp_all AS DOUBLE) * CAST(tn_all AS DOUBLE))
  END, 6) + 0.0 AS j_stat,
  round(CASE WHEN tp_all > 0 THEN CAST(tp AS DOUBLE) / CAST(tp_all AS DOUBLE) END, 6) + 0.0 AS sensitivity,
  round(CASE WHEN tn_all > 0
        THEN (CAST(tn_all AS DOUBLE) - CAST(fp AS DOUBLE)) / CAST(tn_all AS DOUBLE)
  END, 6) + 0.0 AS specificity
FROM j ORDER BY jn DESC, s ASC LIMIT 1
"""


_LIFT_K = 10


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains of the document-length 'from src0' scorer —
    deterministic doc_id tiebreak, exact integer tile cut, zero
    windows (k×k broadcast self-join for the cumulative gain)."""
    from csp_gateway_spark.operators.analytics import lift_table

    docs = _ts(spark, sf_dir, "documents")
    out = lift_table(
        docs.select(
            F.col("n_chars").alias("score"),
            (F.col("source") == "src0").cast("int").alias("label"),
            F.col("doc_id"),
        ),
        "score",
        "label",
        "doc_id",
        k=_LIFT_K,
    )
    return out.select(
        "tile", "n", "positives",
        (F.round("rate", 6) + F.lit(0.0)).alias("rate"),
        (F.round("lift", 6) + F.lit(0.0)).alias("lift"),
        (F.round("cum_gain", 6) + F.lit(0.0)).alias("cum_gain"),
    ).orderBy("tile")


ORACLE_LIFT_TABLE = f"""
WITH b AS (
  SELECT n_chars AS s, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS l,
         doc_id AS id
  FROM documents WHERE n_chars IS NOT NULL
), rk AS (
  SELECT l, row_number() OVER (ORDER BY s DESC, id ASC) AS rn,
         count(*) OVER () AS n_total
  FROM b
), tiled AS (
  SELECT l, ((rn - 1) * {_LIFT_K}) // n_total + 1 AS tile FROM rk
), pt AS (
  SELECT tile, CAST(count(*) AS BIGINT) AS n, CAST(SUM(l) AS BIGINT) AS positives
  FROM tiled GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(positives) AS BIGINT) AS pt_all
  FROM pt
), cum AS (
  SELECT a.tile, CAST(SUM(bb.positives) AS BIGINT) AS cpos
  FROM pt a JOIN pt bb ON bb.tile <= a.tile GROUP BY 1
)
SELECT CAST(pt.tile AS INTEGER) AS tile, n, positives,
  round(CAST(positives AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS rate,
  round(CASE WHEN pt_all > 0
        THEN (CAST(positives AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(pt_all AS DOUBLE) / CAST(nt AS DOUBLE)) END, 6) + 0.0 AS lift,
  round(CASE WHEN pt_all > 0
        THEN CAST(cpos AS DOUBLE) / CAST(pt_all AS DOUBLE) END, 6) + 0.0 AS cum_gain
FROM pt JOIN cum ON pt.tile = cum.tile, tot
ORDER BY tile
"""


# ---------------------------------------------------------------------------
# wave 35 (round 14) — regression / stationarity diagnostics over the
# daily order series (analytics.py wave-35 block)
# ---------------------------------------------------------------------------

def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker) heteroskedasticity LM: is the variance
    of the daily-revenue ~ order-count OLS residual constant in the
    order count?  Stage-1 OLS as ONE broadcast row, squared residuals
    per-row, one six-sum aggregate."""
    from csp_gateway_spark.operators.analytics import breusch_pagan

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("k"),
        F.col("o_totalprice").alias("y"),
        F.lit(1).alias("x"),
    )
    out = breusch_pagan(daily, "k", "y", "x")
    return out.select(
        "n",
        (F.round("lm_stat", 6) + F.lit(0.0)).alias("lm_stat"),
        (F.round("aux_r2", 6) + F.lit(0.0)).alias("aux_r2"),
    )


ORACLE_BREUSCH_PAGAN = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y,
         CAST(SUM(CAST(1 AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS x
  FROM orders GROUP BY 1
), s1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx, SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM d
), cf AS (
  SELECT
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n0 AS DOUBLE))
      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n0 AS DOUBLE)) AS beta,
    (CAST(sy AS DOUBLE)
      - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n0 AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n0 AS DOUBLE))
        * CAST(sx AS DOUBLE)) / CAST(n0 AS DOUBLE) AS alpha
  FROM s1
), u AS (
  SELECT CAST(x AS DOUBLE) AS xd,
    (CAST(y AS DOUBLE) - alpha - beta * CAST(x AS DOUBLE))
      * (CAST(y AS DOUBLE) - alpha - beta * CAST(x AS DOUBLE)) AS uu
  FROM d, cf
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(xd) AS ax, SUM(uu) AS au,
    SUM(xd * xd) AS axx, SUM(uu * uu) AS auu, SUM(xd * uu) AS axu
  FROM u
), c AS (
  SELECT n,
    axx - ax * ax / CAST(n AS DOUBLE) AS bxx,
    auu - au * au / CAST(n AS DOUBLE) AS buu,
    axu - ax * au / CAST(n AS DOUBLE) AS bxu
  FROM s
)
SELECT n,
  round(CASE WHEN n > 2 AND bxx > 0 AND buu > 0
        THEN CAST(n AS DOUBLE) * bxu * bxu / (bxx * buu) END, 6) + 0.0 AS lm_stat,
  round(CASE WHEN n > 2 AND bxx > 0 AND buu > 0
        THEN bxu * bxu / (bxx * buu) END, 6) + 0.0 AS aux_r2
FROM c
"""


import datetime as _dt

_CHOW_BREAK_DATE = "1995-06-30"
_CHOW_BREAK_KEY = (
    _dt.date(1995, 6, 30) - _dt.date(1992, 1, 1)
).days


def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F on the daily revenue ~ order-count fit
    at 1995-06-30 — ONE map-combined aggregate carrying both
    segments' conditional exact-decimal moments."""
    from csp_gateway_spark.operators.analytics import chow_test

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("k"),
        F.col("o_totalprice").alias("y"),
        F.lit(1).alias("x"),
    )
    out = chow_test(daily, "k", "y", "x", break_key=_CHOW_BREAK_KEY)
    return out.select(
        "n1", "n2",
        (F.round("f_stat", 6) + F.lit(0.0)).alias("f_stat"),
    )


ORACLE_CHOW_TEST = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y,
         CAST(SUM(CAST(1 AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS x
  FROM orders GROUP BY 1
), s AS (
  SELECT
    CAST(SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN CAST(x AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sx1,
    SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN CAST(y AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sy1,
    SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN CAST(x * x AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxx1,
    SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN CAST(x * y AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxy1,
    SUM(CASE WHEN k < {_CHOW_BREAK_KEY} THEN CAST(y * y AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS syy1,
    CAST(SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN CAST(x AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sx2,
    SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN CAST(y AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sy2,
    SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN CAST(x * x AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxx2,
    SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN CAST(x * y AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxy2,
    SUM(CASE WHEN k >= {_CHOW_BREAK_KEY} THEN CAST(y * y AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS syy2
  FROM d
), r AS (
  SELECT n1, n2,
    (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS rss1,
    CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cxx1,
    (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS rss2,
    CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS cxx2,
    (CAST(syy1 + syy2 AS DOUBLE) - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      - (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        * (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        / (CAST(sxx1 + sxx2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sx1 + sx2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) AS rssp,
    CAST(sxx1 + sxx2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sx1 + sx2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS cxxp
  FROM s
)
SELECT n1, n2,
  round(CASE WHEN n1 > 2 AND n2 > 2 AND cxx1 > 0 AND cxx2 > 0 AND cxxp > 0
                  AND rss1 + rss2 > 0
        THEN ((rssp - rss1 - rss2) / 2.0)
             / ((rss1 + rss2) / (CAST(n1 + n2 AS DOUBLE) - 4.0)) END, 6) + 0.0 AS f_stat
FROM r
"""


def q_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle ARCH LM at lag 1 on daily order revenue — volatility
    clustering as autocorrelation of squared deviations; broadcast
    mean, one lag join, six double sums."""
    from csp_gateway_spark.operators.analytics import arch_lm

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "v")
    out = arch_lm(daily, "k", "v")
    return out.select(
        "n_pairs",
        (F.round("lm_stat", 6) + F.lit(0.0)).alias("lm_stat"),
        (F.round("aux_r2", 6) + F.lit(0.0)).alias("aux_r2"),
    )


ORACLE_ARCH_LM = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n0, SUM(CAST(v AS DECIMAL(38,2))) AS sv
  FROM d
), u AS (
  SELECT k,
    (CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n0 AS DOUBLE))
      * (CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n0 AS DOUBLE)) AS uu
  FROM d, st
), p AS (
  SELECT c.uu AS u, pr.uu AS up FROM u c JOIN u pr ON c.k = pr.k + 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM(up) AS sa, SUM(u) AS sy,
    SUM(up * up) AS saa, SUM(u * u) AS syy, SUM(up * u) AS say
  FROM p
), c AS (
  SELECT n,
    saa - sa * sa / CAST(n AS DOUBLE) AS caa,
    syy - sy * sy / CAST(n AS DOUBLE) AS cyy,
    say - sa * sy / CAST(n AS DOUBLE) AS cay
  FROM s
)
SELECT n AS n_pairs,
  round(CASE WHEN n > 2 AND caa > 0 AND cyy > 0
        THEN CAST(n AS DOUBLE) * cay * cay / (caa * cyy) END, 6) + 0.0 AS lm_stat,
  round(CASE WHEN n > 2 AND caa > 0 AND cyy > 0
        THEN cay * cay / (caa * cyy) END, 6) + 0.0 AS aux_r2
FROM c
"""


_KPSS_LAGS = 4


def q_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily order revenue (Bartlett
    window, ℓ=4) — partial sums from ONE global_row_number exact
    cumulative, autocovariances via ℓ shifted copies + one hash
    join; dickey_fuller's complement."""
    from csp_gateway_spark.operators.analytics import kpss_test

    orders = _t(spark, sf_dir, "orders")
    daily = _dr(spark, sf_dir, "k", "v")
    out = kpss_test(daily, "k", "v", lags=_KPSS_LAGS)
    return out.select(
        "n",
        (F.round("eta", 6) + F.lit(0.0)).alias("eta"),
        (F.round("lrv_ratio", 6) + F.lit(0.0)).alias("lrv_ratio"),
    )


ORACLE_KPSS_TEST = f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n0, SUM(CAST(v AS DECIMAL(38,2))) AS sv
  FROM d
), r AS (
  SELECT v,
    row_number() OVER (ORDER BY k) AS rn,
    SUM(CAST(v AS DECIMAL(38,2))) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cv
  FROM d
), b AS (
  SELECT rn,
    CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n0 AS DOUBLE) AS e,
    CAST(cv AS DOUBLE)
      - CAST(rn AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n0 AS DOUBLE)) AS s
  FROM r, st
), core AS (
  SELECT SUM(s * s) AS ss, SUM(e * e) AS g0 FROM b
), sh AS (
  SELECT rn + 1 AS rn, e AS ep, 1 AS j FROM b
  UNION ALL SELECT rn + 2, e, 2 FROM b
  UNION ALL SELECT rn + 3, e, 3 FROM b
  UNION ALL SELECT rn + 4, e, 4 FROM b
), gj AS (
  SELECT j, SUM(b.e * sh.ep) AS g FROM b JOIN sh USING (rn) GROUP BY 1
), ws AS (
  SELECT COALESCE(SUM((1.0 - CAST(j AS DOUBLE) / {float(_KPSS_LAGS + 1)}) * g), 0.0) AS w
  FROM gj
)
SELECT (SELECT n0 FROM st) AS n,
  round(CASE WHEN n0 > {_KPSS_LAGS + 1} AND (g0 + 2.0 * w) / CAST(n0 AS DOUBLE) > 0 AND g0 > 0
        THEN ss / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                   * ((g0 + 2.0 * w) / CAST(n0 AS DOUBLE))) END, 6) + 0.0 AS eta,
  round(CASE WHEN n0 > {_KPSS_LAGS + 1} AND (g0 + 2.0 * w) / CAST(n0 AS DOUBLE) > 0 AND g0 > 0
        THEN (g0 + 2.0 * w) / CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) / g0 END, 6) + 0.0 AS lrv_ratio
FROM core, ws, st
"""


# ---------------------------------------------------------------------------
# wave 36 (round 14) — survival regression family over the order→ship
# latency cohort (analytics.py wave-36 block): Cox PH (Breslow, 3
# fixed Newton steps), Schoenfeld PH-trend (shares the fit), Harrell's
# C for the quantity risk score.
# ---------------------------------------------------------------------------

_COX_STEPS = 3


def _cox_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(duration, event, score) cohort: order→ship latency, open 'O'
    lines right-censored, l_quantity as the quantized risk score —
    the same cohort as `_survival_steps` plus the covariate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") != "O").cast("int").alias("event"),
        F.col("l_quantity").cast("double").alias("x"),
    )


def _cox_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed (duration, score) cell collapse — (t, x, n,
    n_events) over the order→ship latency cohort — shared by
    `cox_ph` / `schoenfeld_trend` (via `_cox_fit`) and `harrell_c`,
    whose operators build the IDENTICAL frame when not injected
    (same filter, same groupBy, same aggregates; r14).  Saves the
    lineitem⋈orders join + collapse per consumer."""

    def build():
        df = _cox_cohort(spark, sf_dir)
        t = F.col("dur")
        ev = F.col("event").cast("int")
        x = F.col("x").cast("double")
        return (
            df.filter(t.isNotNull() & ev.isNotNull() & x.isNotNull())
            .groupBy(t.cast("long").alias("_t"), x.alias("_x"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("_na"),
                F.sum(ev).cast("long").alias("_ne"),
            )
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "cox_cells", build)


def _cox_fit(spark: SparkSession, sf_dir: str):
    """ONE Newton fit (eval frame + β, both eagerly checkpointed)
    shared by `cox_ph` / `schoenfeld_trend` — two gate queries that
    otherwise each pay the 3-step iteration."""

    def build():
        from csp_gateway_spark.operators.analytics import _cox_newton

        return _cox_newton(
            _cox_cohort(spark, sf_dir), "dur", "event", "x", _COX_STEPS,
            cells=_cox_cells(spark, sf_dir),
            fused=True,
        )

    return _shared(spark, sf_dir, "cox_fit", build)


def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards fit of ship-latency hazard on line
    quantity (Breslow ties, 3 Newton steps): cell-collapse once,
    β as a broadcast row, risk-set sums from descending
    global_row_number cumulatives."""
    from csp_gateway_spark.operators.analytics import cox_ph_from_eval

    final, beta = _cox_fit(spark, sf_dir)
    out = cox_ph_from_eval(final, beta)
    return out.select(
        "n_events",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("se", 6) + F.lit(0.0)).alias("se"),
        (F.round("hr", 6) + F.lit(0.0)).alias("hr"),
    )


def _cox_iter_sql(steps: int) -> str:
    """The unrolled Newton CTE chain (b0 = 0, b{s} after step s, one
    extra evaluation pass at the final β) — the literal mirror of
    `_cox_newton`'s per-step expressions."""
    parts = ["b0 AS (SELECT 0.0 AS beta)"]
    for s in range(1, steps + 2):
        prev = f"b{s - 1}"
        parts.append(f"""t{s} AS (
  SELECT cells.t,
    SUM(CAST(na AS DOUBLE) * exp(b.beta * x)) AS c0,
    SUM((CAST(na AS DOUBLE) * exp(b.beta * x)) * x) AS c1,
    SUM(((CAST(na AS DOUBLE) * exp(b.beta * x)) * x) * x) AS c2,
    CAST(SUM(ne) AS BIGINT) AS d,
    SUM(CAST(ne AS DOUBLE) * x) AS sxd,
    SUM((CAST(ne AS DOUBLE) * x) * x) AS sxxd
  FROM cells, {prev} b GROUP BY cells.t
), r{s} AS (
  SELECT t, d, sxd, sxxd,
    SUM(c0) OVER w AS s0, SUM(c1) OVER w AS s1, SUM(c2) OVER w AS s2
  FROM t{s} WINDOW w AS (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
), u{s} AS (
  SELECT CAST(SUM(d) AS BIGINT) AS nev,
    SUM(sxd - CAST(d AS DOUBLE) * (s1 / s0)) AS u,
    SUM(CAST(d AS DOUBLE) * (s2 / s0 - (s1 / s0) * (s1 / s0))) AS i
  FROM r{s} WHERE d > 0
)""")
        if s <= steps:
            parts.append(
                f"b{s} AS (SELECT CASE WHEN i > 0 THEN b.beta + u / i "
                f"ELSE b.beta END AS beta FROM u{s}, {prev} b)"
            )
    return ",\n".join(parts)


_COX_BASE_SQL = """
base AS (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS t,
         CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END AS e,
         CAST(l_quantity AS DOUBLE) AS x
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), cells AS (
  SELECT t, x, CAST(count(*) AS BIGINT) AS na, CAST(SUM(e) AS BIGINT) AS ne
  FROM base GROUP BY 1, 2
)"""


ORACLE_COX_PH = f"""
WITH {_COX_BASE_SQL},
{_cox_iter_sql(_COX_STEPS)}
SELECT nev AS n_events,
  round(beta, 6) + 0.0 AS beta,
  round(CASE WHEN i > 0 THEN 1.0 / sqrt(i) END, 6) + 0.0 AS se,
  round(exp(beta), 6) + 0.0 AS hr
FROM u{_COX_STEPS + 1}, b{_COX_STEPS}
"""


def q_schoenfeld_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PH-assumption check on the cox_ph fit: correlation of per-event
    Schoenfeld residuals with event time — shares the memoized
    Newton fit with `cox_ph` (one iteration, two gate queries)."""
    from csp_gateway_spark.operators.analytics import (
        schoenfeld_trend_from_eval,
    )

    final, _beta = _cox_fit(spark, sf_dir)
    out = schoenfeld_trend_from_eval(final)
    return out.select(
        "n_events",
        (F.round("corr", 6) + F.lit(0.0)).alias("corr"),
        (F.round("t_stat", 6) + F.lit(0.0)).alias("t_stat"),
    )


ORACLE_SCHOENFELD_TREND = f"""
WITH {_COX_BASE_SQL},
{_cox_iter_sql(_COX_STEPS)},
e4 AS (
  SELECT t, d, sxd, sxxd, s1 / s0 AS e1
  FROM r{_COX_STEPS + 1} WHERE d > 0
), ss AS (
  SELECT CAST(SUM(d) AS BIGINT) AS n,
    SUM(CAST(d AS DOUBLE) * CAST(t AS DOUBLE)) AS st,
    SUM((CAST(d AS DOUBLE) * CAST(t AS DOUBLE)) * CAST(t AS DOUBLE)) AS stt,
    SUM(sxd - CAST(d AS DOUBLE) * e1) AS sr,
    SUM(CAST(t AS DOUBLE) * (sxd - CAST(d AS DOUBLE) * e1)) AS srt,
    SUM(sxxd - 2.0 * e1 * sxd + CAST(d AS DOUBLE) * e1 * e1) AS srr
  FROM e4
), cc AS (
  SELECT n,
    stt - st * st / CAST(n AS DOUBLE) AS ctt,
    srr - sr * sr / CAST(n AS DOUBLE) AS crr,
    srt - st * sr / CAST(n AS DOUBLE) AS crt
  FROM ss
), co AS (
  SELECT n,
    CASE WHEN n > 2 AND ctt > 0 AND crr > 0
         THEN crt / sqrt(ctt * crr) END AS corr
  FROM cc
)
SELECT n AS n_events,
  round(corr, 6) + 0.0 AS corr,
  round(CASE WHEN corr IS NOT NULL AND abs(corr) < 1.0
        THEN corr * sqrt((CAST(n AS DOUBLE) - 2.0) / (1.0 - corr * corr))
  END, 6) + 0.0 AS t_stat
FROM co
"""


def q_harrell_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance of the quantity risk score on ship
    latency — dense bounded (time × score) grid, three PARTITIONED
    window cumulatives, exact-long dominance counts; never the
    O(n²) pair expansion."""
    from csp_gateway_spark.operators.analytics import harrell_c

    out = harrell_c(
        _cox_cohort(spark, sf_dir), "dur", "event", "x",
        cells=_cox_cells(spark, sf_dir),
    )
    return out.select(
        "n_comparable", "n_concordant", "n_tied",
        (F.round("c_index", 6) + F.lit(0.0)).alias("c_index"),
    )


ORACLE_HARRELL_C = f"""
WITH {_COX_BASE_SQL},
ts AS (SELECT DISTINCT t FROM cells),
xs AS (SELECT DISTINCT x FROM cells),
grid AS (
  SELECT ts.t, xs.x, COALESCE(c.na, 0) AS na
  FROM ts CROSS JOIN xs LEFT JOIN cells c ON c.t = ts.t AND c.x = xs.x
), g1 AS (
  SELECT t, x,
    COALESCE(SUM(na) OVER (PARTITION BY x ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS later
  FROM grid
), g2 AS (
  SELECT t, x, later,
    COALESCE(SUM(later) OVER (PARTITION BY t ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
    SUM(later) OVER (PARTITION BY t) AS tot
  FROM g1
), ev AS (
  SELECT c.ne, g2.tot, g2.lt, g2.later
  FROM cells c JOIN g2 ON c.t = g2.t AND c.x = g2.x
  WHERE c.ne > 0
), agg AS (
  SELECT CAST(SUM(ne * tot) AS BIGINT) AS comp,
         CAST(SUM(ne * lt) AS BIGINT) AS conc,
         CAST(SUM(ne * later) AS BIGINT) AS tie
  FROM ev
)
SELECT COALESCE(comp, 0) AS n_comparable,
       COALESCE(conc, 0) AS n_concordant,
       COALESCE(tie, 0) AS n_tied,
  round(CASE WHEN comp > 0
        THEN (2.0 * CAST(conc AS DOUBLE) + CAST(tie AS DOUBLE))
             / (2.0 * CAST(comp AS DOUBLE)) END, 6) + 0.0 AS c_index
FROM agg
"""


# ---------------------------------------------------------------------------
# wave 37 (round 14) — panel / clustered regression over the customer
# order panel (analytics.py wave-37 block): entity = o_custkey,
# x = order day, y = order value.
# ---------------------------------------------------------------------------

def _order_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").alias("g"),
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("x"),
        F.col("o_totalprice").alias("y"),
    )


_PANEL_SQL = f"""
  SELECT o_custkey AS g,
         CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS DECIMAL(19,2)) AS x,
         CAST(o_totalprice AS DECIMAL(19,2)) AS y
  FROM orders
"""

_PANEL_PG_SQL = """
  SELECT g, CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx, SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy
  FROM p GROUP BY 1
"""


def _panel_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed per-customer moment table (_g, n, Σx, Σy,
    Σx², Σxy, Σy²) over the order panel — `fe_within`, `between_reg`
    (subset) and `cluster_se` each rebuilt the identical grouped
    exact-decimal collapse otherwise (r14)."""

    def build():
        df = _order_panel(spark, sf_dir)
        x19 = F.col("x").cast("decimal(19,2)")
        y19 = F.col("y").cast("decimal(19,2)")
        return (
            df.filter(x19.isNotNull() & y19.isNotNull())
            .groupBy(F.col("g").alias("_g"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("_n"),
                F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
                F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
                F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
                F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
                F.sum((y19 * y19).cast("decimal(38,4)")).alias("_syy"),
            )
            .localCheckpoint(eager=True)
        )

    return _shared(spark, sf_dir, "panel_cells", build)


def q_fe_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects (within) estimator of order value on order day
    with customer intercepts absorbed — one per-group exact-sum pass,
    algebraic demeaning, no join back to facts."""
    from csp_gateway_spark.operators.analytics import fe_within

    out = fe_within(
        _order_panel(spark, sf_dir), "g", "y", "x",
        per_g=_panel_cells(spark, sf_dir),
    )
    return out.select(
        "n", "n_groups",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("r2_within", 6) + F.lit(0.0)).alias("r2_within"),
    )


ORACLE_FE_WITHIN = f"""
WITH p AS ({_PANEL_SQL}),
pg AS ({_PANEL_PG_SQL}),
pool AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS ng,
    SUM(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS cxx,
    SUM(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cxy,
    SUM(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cyy
  FROM pg
)
SELECT nt AS n, ng AS n_groups,
  round(CASE WHEN cxx > 0 AND cyy > 0 THEN cxy / cxx END, 6) + 0.0 AS beta,
  round(CASE WHEN cxx > 0 AND cyy > 0
        THEN cxy * cxy / (cxx * cyy) END, 6) + 0.0 AS r2_within
FROM pool
"""


def q_between_reg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between estimator — OLS of customer-mean order value on
    customer-mean order day; fe_within's cross-sectional complement."""
    from csp_gateway_spark.operators.analytics import between_reg

    out = between_reg(
        _order_panel(spark, sf_dir), "g", "y", "x",
        per_g=_panel_cells(spark, sf_dir),
    )
    return out.select(
        "n_groups",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("r2", 6) + F.lit(0.0)).alias("r2"),
    )


ORACLE_BETWEEN_REG = f"""
WITH p AS ({_PANEL_SQL}),
pg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx, SUM(CAST(y AS DECIMAL(38,2))) AS sy
  FROM p GROUP BY 1
), m AS (
  SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
  FROM pg
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS ng,
    SUM(mx) AS ax, SUM(my) AS ay,
    SUM(mx * mx) AS axx, SUM(mx * my) AS axy, SUM(my * my) AS ayy
  FROM m
), c AS (
  SELECT ng,
    axx - ax * ax / CAST(ng AS DOUBLE) AS cxx,
    axy - ax * ay / CAST(ng AS DOUBLE) AS cxy,
    ayy - ay * ay / CAST(ng AS DOUBLE) AS cyy
  FROM s
)
SELECT ng AS n_groups,
  round(CASE WHEN ng > 2 AND cxx > 0 AND cyy > 0 THEN cxy / cxx END, 6) + 0.0 AS beta,
  round(CASE WHEN ng > 2 AND cxx > 0 AND cyy > 0
        THEN cxy * cxy / (cxx * cyy) END, 6) + 0.0 AS r2
FROM c
"""


def q_cluster_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled OLS day-trend of order value with the customer-clustered
    CR0 standard error — the per-group score expands algebraically
    over exact sums, so no second fact pass."""
    from csp_gateway_spark.operators.analytics import cluster_se

    out = cluster_se(
        _order_panel(spark, sf_dir), "g", "y", "x",
        per_g=_panel_cells(spark, sf_dir),
    )
    return out.select(
        "n", "n_groups",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("se_ols", 6) + F.lit(0.0)).alias("se_ols"),
        (F.round("se_cluster", 6) + F.lit(0.0)).alias("se_cluster"),
    )


ORACLE_CLUSTER_SE = f"""
WITH p AS ({_PANEL_SQL}),
pg AS ({_PANEL_PG_SQL}),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS ngr,
    SUM(CAST(sx AS DECIMAL(38,2))) AS tx, SUM(CAST(sy AS DECIMAL(38,2))) AS ty,
    SUM(CAST(sxx AS DECIMAL(38,4))) AS txx,
    SUM(CAST(sxy AS DECIMAL(38,4))) AS txy,
    SUM(CAST(syy AS DECIMAL(38,4))) AS tyy
  FROM pg
), cm AS (
  SELECT nt, ngr,
    CAST(txx AS DOUBLE) - CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE) / CAST(nt AS DOUBLE) AS cxx,
    CAST(txy AS DOUBLE) - CAST(tx AS DOUBLE) * CAST(ty AS DOUBLE) / CAST(nt AS DOUBLE) AS cxy,
    CAST(tyy AS DOUBLE) - CAST(ty AS DOUBLE) * CAST(ty AS DOUBLE) / CAST(nt AS DOUBLE) AS cyy,
    CAST(tx AS DOUBLE) AS txd, CAST(ty AS DOUBLE) AS tyd,
    CAST(nt AS DOUBLE) AS ntd
  FROM tot
), cf AS (
  SELECT nt, ngr, cxx, cyy,
    cxy / cxx AS b,
    (tyd - (cxy / cxx) * txd) / ntd AS a,
    txd / ntd AS xbar,
    cyy - (cxy / cxx) * cxy AS rss
  FROM cm
), h AS (
  SELECT
    (CAST(sxy AS DOUBLE) - a * CAST(sx AS DOUBLE) - b * CAST(sxx AS DOUBLE))
      - xbar * (CAST(sy AS DOUBLE) - a * CAST(n AS DOUBLE) - b * CAST(sx AS DOUBLE)) AS hg
  FROM pg, cf
), agg AS (
  SELECT (SELECT nt FROM cf) AS nt, (SELECT ngr FROM cf) AS ngr,
         (SELECT b FROM cf) AS b, (SELECT cxx FROM cf) AS pxx,
         (SELECT rss FROM cf) AS prss,
         SUM(hg * hg) AS hh
  FROM h
)
SELECT nt AS n, ngr AS n_groups,
  round(CASE WHEN nt > 2 AND pxx > 0 THEN b END, 6) + 0.0 AS beta,
  round(CASE WHEN nt > 2 AND pxx > 0 AND prss > 0
        THEN sqrt((prss / (CAST(nt AS DOUBLE) - 2.0)) / pxx) END, 6) + 0.0 AS se_ols,
  round(CASE WHEN nt > 2 AND pxx > 0
        THEN sqrt(hh) / pxx END, 6) + 0.0 AS se_cluster
FROM agg
"""


# ---------------------------------------------------------------------------
# wave 38 (round 14) — forecast-comparison family over daily order
# revenue (analytics.py wave-38 block): naive lag-1 vs seasonal lag-7
# benchmarks, squared-error loss.
# ---------------------------------------------------------------------------

_DM_LAGS = 6  # h = 7-step seasonal forecast ⇒ Bartlett lags h−1

_DM_DAILY_SQL = f"""
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS BIGINT) AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders GROUP BY 1
"""


def _dm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH))
        .cast("long")
        .alias("k")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))


def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test: does the 7-day seasonal-naive forecast
    of daily revenue beat the 1-day naive, under squared-error loss?
    Bartlett long-run variance at h−1 = 6 lags (the KPSS machinery
    pointed at the loss differential)."""
    from csp_gateway_spark.operators.analytics import diebold_mariano

    d = _dm_daily(spark, sf_dir).localCheckpoint(eager=False)
    p1 = d.select((F.col("k") + 1).alias("k"), F.col("v").alias("v1"))
    p7 = d.select((F.col("k") + 7).alias("k"), F.col("v").alias("v7"))
    e1 = F.col("v").cast("double") - F.col("v1").cast("double")
    e7 = F.col("v").cast("double") - F.col("v7").cast("double")
    pairs = d.join(p1, "k").join(p7, "k").select(
        "k",
        (e1 * e1).alias("l1"),
        (e7 * e7).alias("l2"),
    )
    out = diebold_mariano(pairs, "k", "l1", "l2", lags=_DM_LAGS)
    return out.select(
        "n",
        (F.round("loss_ratio", 6) + F.lit(0.0)).alias("loss_ratio"),
        (F.round("dm_stat", 6) + F.lit(0.0)).alias("dm_stat"),
    )


ORACLE_DIEBOLD_MARIANO = f"""
WITH d AS ({_DM_DAILY_SQL}),
p AS (
  SELECT c.k,
    (CAST(c.v AS DOUBLE) - CAST(p1.v AS DOUBLE))
      * (CAST(c.v AS DOUBLE) - CAST(p1.v AS DOUBLE)) AS l1,
    (CAST(c.v AS DOUBLE) - CAST(p7.v AS DOUBLE))
      * (CAST(c.v AS DOUBLE) - CAST(p7.v AS DOUBLE)) AS l2
  FROM d c JOIN d p1 ON c.k = p1.k + 1 JOIN d p7 ON c.k = p7.k + 7
), r AS (
  SELECT l1, l2, l1 - l2 AS dd, row_number() OVER (ORDER BY k) AS rn
  FROM p
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, SUM(l1) AS s1, SUM(l2) AS s2,
         SUM(dd) AS sd
  FROM r
), b AS (
  SELECT rn, dd - sd / CAST(n AS DOUBLE) AS e FROM r, st
), core AS (
  SELECT SUM(e * e) AS g0 FROM b
), sh AS (
  SELECT rn + 1 AS rn, e AS ep, 1 AS j FROM b
  UNION ALL SELECT rn + 2, e, 2 FROM b
  UNION ALL SELECT rn + 3, e, 3 FROM b
  UNION ALL SELECT rn + 4, e, 4 FROM b
  UNION ALL SELECT rn + 5, e, 5 FROM b
  UNION ALL SELECT rn + 6, e, 6 FROM b
), gj AS (
  SELECT j, SUM(b.e * sh.ep) AS g FROM b JOIN sh USING (rn) GROUP BY 1
), ws AS (
  SELECT COALESCE(SUM((1.0 - CAST(j AS DOUBLE) / {float(_DM_LAGS + 1)}) * g), 0.0) AS w
  FROM gj
)
SELECT n,
  round(CASE WHEN n > {_DM_LAGS + 1} AND (g0 + 2.0 * w) / CAST(n AS DOUBLE) > 0 AND s2 <> 0
        THEN s1 / s2 END, 6) + 0.0 AS loss_ratio,
  round(CASE WHEN n > {_DM_LAGS + 1} AND (g0 + 2.0 * w) / CAST(n AS DOUBLE) > 0 AND s2 <> 0
        THEN (sd / CAST(n AS DOUBLE))
             / sqrt(((g0 + 2.0 * w) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) END, 6) + 0.0 AS dm_stat
FROM st, core, ws
"""


def q_pesaran_timmermann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pesaran-Timmermann directional accuracy of the momentum rule
    (yesterday's revenue change predicts today's direction) — four
    exact counts, closed-form variance decomposition."""
    from csp_gateway_spark.operators.analytics import pesaran_timmermann

    d = _dm_daily(spark, sf_dir).localCheckpoint(eager=False)
    p1 = d.select((F.col("k") + 1).alias("k"), F.col("v").alias("v1"))
    p2 = d.select((F.col("k") + 2).alias("k"), F.col("v").alias("v2"))
    pairs = d.join(p1, "k").join(p2, "k").select(
        (F.col("v").cast("double") - F.col("v1").cast("double")).alias("dy"),
        (F.col("v1").cast("double") - F.col("v2").cast("double")).alias("dx"),
    )
    out = pesaran_timmermann(pairs, "dy", "dx")
    return out.select(
        "n",
        (F.round("accuracy", 6) + F.lit(0.0)).alias("accuracy"),
        (F.round("pt_stat", 6) + F.lit(0.0)).alias("pt_stat"),
    )


ORACLE_PESARAN_TIMMERMANN = f"""
WITH d AS ({_DM_DAILY_SQL}),
p AS (
  SELECT
    CASE WHEN CAST(c.v AS DOUBLE) - CAST(p1.v AS DOUBLE) > 0 THEN 1 ELSE 0 END AS uy,
    CASE WHEN CAST(p1.v AS DOUBLE) - CAST(p2.v AS DOUBLE) > 0 THEN 1 ELSE 0 END AS ux
  FROM d c JOIN d p1 ON c.k = p1.k + 1 JOIN d p2 ON c.k = p2.k + 2
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(uy) AS BIGINT) AS ny, CAST(SUM(ux) AS BIGINT) AS nx,
    CAST(SUM(CASE WHEN uy = ux THEN 1 ELSE 0 END) AS BIGINT) AS na
  FROM p
), pr AS (
  SELECT n,
    CAST(na AS DOUBLE) / CAST(n AS DOUBLE) AS s,
    CAST(ny AS DOUBLE) / CAST(n AS DOUBLE) AS py,
    CAST(nx AS DOUBLE) / CAST(n AS DOUBLE) AS px
  FROM s
), l1 AS (
  SELECT n, s, py, px,
    py * px + (1.0 - py) * (1.0 - px) AS pstar
  FROM pr
), l2 AS (
  SELECT n, s, pstar,
    pstar * (1.0 - pstar) / CAST(n AS DOUBLE) AS vs,
    (2.0 * py - 1.0) * (2.0 * py - 1.0) * px * (1.0 - px) / CAST(n AS DOUBLE)
      + (2.0 * px - 1.0) * (2.0 * px - 1.0) * py * (1.0 - py) / CAST(n AS DOUBLE)
      + 4.0 * py * px * (1.0 - py) * (1.0 - px)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vp
  FROM l1
)
SELECT n,
  round(s, 6) + 0.0 AS accuracy,
  round(CASE WHEN n > 1 AND vs - vp > 0
        THEN (s - pstar) / sqrt(vs - vp) END, 6) + 0.0 AS pt_stat
FROM l2
"""


def q_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 of the 7-day seasonal-naive revenue forecast against
    the 1-day no-change benchmark — one two-sum aggregate."""
    from csp_gateway_spark.operators.analytics import theil_u2

    d = _dm_daily(spark, sf_dir).localCheckpoint(eager=False)
    p1 = d.select((F.col("k") + 1).alias("k"), F.col("v").alias("v1"))
    p7 = d.select((F.col("k") + 7).alias("k"), F.col("v").alias("v7"))
    pairs = d.join(p1, "k").join(p7, "k").select(
        F.col("v").cast("double").alias("y"),
        F.col("v7").cast("double").alias("f"),
        F.col("v1").cast("double").alias("nv"),
    )
    out = theil_u2(pairs, "y", "f", "nv")
    return out.select(
        "n",
        (F.round("u2", 6) + F.lit(0.0)).alias("u2"),
    )


ORACLE_THEIL_U2 = f"""
WITH d AS ({_DM_DAILY_SQL}),
p AS (
  SELECT CAST(c.v AS DOUBLE) AS y, CAST(p7.v AS DOUBLE) AS f,
         CAST(p1.v AS DOUBLE) AS nv
  FROM d c JOIN d p1 ON c.k = p1.k + 1 JOIN d p7 ON c.k = p7.k + 7
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    SUM((f - y) * (f - y)) AS sf,
    SUM((nv - y) * (nv - y)) AS sn
  FROM p
)
SELECT n,
  round(CASE WHEN n > 0 AND sn > 0 THEN sqrt(sf / sn) END, 6) + 0.0 AS u2
FROM s
"""


# ---------------------------------------------------------------------------
# wave 39 (round 14) — unsupervised keyword extraction over documents
# (corpus.py wave-39 block): RAKE and TextRank-lite.
# ---------------------------------------------------------------------------

_RAKE_SQL_PHRASES = f"""
  SELECT doc_id,
    unnest(list_filter(
      list_transform(
        regexp_split_to_array(
          array_to_string(
            list_transform(
              list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x != ''),
              t -> CASE WHEN list_contains({_EN}, t) THEN '|' ELSE t END),
            ' '),
          '\\|'),
        p -> trim(regexp_replace(p, '\\s+', ' ', 'g'))),
      p -> p != '')) AS phrase
  FROM documents
"""


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE corpus keywords: stopword-delimited candidate phrases,
    word score deg/freq, phrase score = Σ member scores; ranking on
    the 6-dp rounded score (engine-portable tie handling)."""
    from csp_gateway_spark.operators.corpus import rake_keywords

    docs = _ts(spark, sf_dir, "documents")
    out = rake_keywords(docs, topk=50, occ=_rake_occ(spark, sf_dir))
    return out.select(
        "phrase",
        "n",
        (F.round("score", 6) + F.lit(0.0)).alias("score"),
    )


ORACLE_RAKE_KEYWORDS = f"""
WITH ph AS ({_RAKE_SQL_PHRASES}),
occ AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen FROM ph
  WHERE len(string_split(phrase, ' ')) <= 4
), words AS (
  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM occ
), ws AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
  FROM words GROUP BY 1
), pc AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY 1
), pw AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM pc
), ps AS (
  SELECT phrase, SUM(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)) AS score
  FROM pw JOIN ws USING (w) GROUP BY 1
)
SELECT pc.phrase AS phrase, n, round(score, 6) + 0.0 AS score
FROM pc JOIN ps ON pc.phrase = ps.phrase
ORDER BY round(score, 6) DESC, n DESC, phrase ASC LIMIT 50
"""


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-lite keyword ranks: 2 damped power iterations over
    the undirected adjacent-token co-occurrence graph (stopword runs
    excluded); 10-dp rounded ranking keys."""
    from csp_gateway_spark.operators.corpus import textrank_keywords

    docs = _ts(spark, sf_dir, "documents")
    out = textrank_keywords(docs, topk=50, iters=2, occ=_rake_occ(spark, sf_dir))
    return out.select(
        "w",
        (F.round("rank", 10) + F.lit(0.0)).alias("rank"),
    )


ORACLE_TEXTRANK_KEYWORDS = f"""
WITH ph AS ({_RAKE_SQL_PHRASES}),
runs AS (
  SELECT string_split(phrase, ' ') AS a FROM ph
  WHERE len(string_split(phrase, ' ')) >= 2
), pairs AS (
  SELECT s.w AS w, s.w2 AS w2 FROM (
    SELECT unnest(list_transform(generate_series(2, len(a)),
                  i -> {{'w': a[i-1], 'w2': a[i]}})) AS s
    FROM runs
  ) WHERE s.w != s.w2
), ed AS (
  SELECT w AS src, w2 AS dst FROM pairs
  UNION ALL SELECT w2 AS src, w AS dst FROM pairs
), edges AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS wt FROM ed GROUP BY 1, 2
), outdeg AS (
  SELECT src, SUM(wt) AS outw FROM edges GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM outdeg
), r0 AS (
  SELECT src AS w, outw, 1.0 / n AS r FROM outdeg, nn
), c1 AS (
  SELECT e.dst AS w, SUM(r0.r / r0.outw * e.wt) AS inc
  FROM r0 JOIN edges e ON r0.w = e.src GROUP BY 1
), r1 AS (
  SELECT r0.w, r0.outw,
    (1.0 - 0.85) / n + 0.85 * COALESCE(c1.inc, 0.0) AS r
  FROM r0 LEFT JOIN c1 ON r0.w = c1.w, nn
), c2 AS (
  SELECT e.dst AS w, SUM(r1.r / r1.outw * e.wt) AS inc
  FROM r1 JOIN edges e ON r1.w = e.src GROUP BY 1
), r2 AS (
  SELECT r1.w,
    (1.0 - 0.85) / n + 0.85 * COALESCE(c2.inc, 0.0) AS r
  FROM r1 LEFT JOIN c2 ON r1.w = c2.w, nn
)
SELECT w, round(r, 10) + 0.0 AS rank
FROM r2 ORDER BY round(r, 10) DESC, w ASC LIMIT 50
"""


# ---------------------------------------------------------------------------
# wave 40 (round 14) — distribution-distance / scale tests on the
# returned-vs-acknowledged price cohorts (analytics.py wave-40 block)
# ---------------------------------------------------------------------------

def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely-Rizzo energy distance between returned ('R') and
    acknowledged ('A') line prices — every pairwise |·| sum factors
    through ONE four-column exact-decimal cumulative; engine-exact
    up to the final normalizations."""
    from csp_gateway_spark.operators.analytics import energy_distance

    li = _t(spark, sf_dir, "lineitem")
    cells, n_cells, _ = _ra_price_cells(spark, sf_dir)
    out = energy_distance(
        li, "l_returnflag", "l_extendedprice", "R", "A",
        cells=cells, cells_count=n_cells,
    )
    return out.select(
        "n_a", "n_b",
        (F.round("d2", 6) + F.lit(0.0)).alias("d2"),
        (F.round("e_stat", 6) + F.lit(0.0)).alias("e_stat"),
    )


ORACLE_ENERGY_DISTANCE = """
WITH cells AS (
  SELECT CAST(l_extendedprice AS DECIMAL(15,2)) AS v,
    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), c2 AS (
  SELECT v, ca, cb,
    CAST(v * ca AS DECIMAL(38,2)) AS sa,
    CAST(v * cb AS DECIMAL(38,2)) AS sb
  FROM cells
), r AS (
  SELECT v, ca, cb, sa, sb,
    SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
    SUM(sa) OVER w AS csa, SUM(sb) OVER w AS csb
  FROM c2 WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(sa) AS DECIMAL(38,2)) AS ta, CAST(SUM(sb) AS DECIMAL(38,2)) AS tb
  FROM c2
), terms AS (
  SELECT
    CAST(ca AS DECIMAL(12,0)) * CAST(
      CAST(v * (ccb - cb) AS DECIMAL(38,2)) - CAST(csb - sb AS DECIMAL(38,2))
      + CAST(tb - csb AS DECIMAL(38,2)) - CAST(v * (nb - ccb) AS DECIMAL(38,2))
      AS DECIMAL(25,2)) AS cr,
    CAST(ca AS DECIMAL(12,0)) * CAST(
      CAST(v * (cca - ca) AS DECIMAL(38,2)) - CAST(csa - sa AS DECIMAL(38,2))
      AS DECIMAL(25,2)) AS wa,
    CAST(cb AS DECIMAL(12,0)) * CAST(
      CAST(v * (ccb - cb) AS DECIMAL(38,2)) - CAST(csb - sb AS DECIMAL(38,2))
      AS DECIMAL(25,2)) AS wb
  FROM r, tot
), s AS (
  SELECT (SELECT na FROM tot) AS na, (SELECT nb FROM tot) AS nb,
    CAST(SUM(cr) AS DECIMAL(38,2)) AS scr,
    CAST(SUM(wa) AS DECIMAL(38,2)) AS swa,
    CAST(SUM(wb) AS DECIMAL(38,2)) AS swb
  FROM terms
), f AS (
  -- decimal→double through VARCHAR (r15, VERDICT r14 #4): DuckDB's
  -- direct DECIMAL(38,2)→DOUBLE cast divides the int128 payload by
  -- 10^scale in double arithmetic (two roundings — 1 ulp off above
  -- 2^53 hundredths, e.g. 694135745736485.56 → ...85.6), while
  -- Spark's BigDecimal.doubleValue and DuckDB's string→double are
  -- both correctly rounded.  Below 2^53 hundredths (all gate SFs)
  -- every path is exact, so this changes nothing there; at sf0.1 it
  -- closes the inherited 1e-6 e_stat flip.
  SELECT na, nb,
    2.0 * CAST(CAST(scr AS VARCHAR) AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
    - 2.0 * CAST(CAST(swa AS VARCHAR) AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE))
    - 2.0 * CAST(CAST(swb AS VARCHAR) AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) AS d2
  FROM s
)
SELECT na AS n_a, nb AS n_b,
  round(CASE WHEN na > 0 AND nb > 0 THEN d2 END, 6) + 0.0 AS d2,
  round(CASE WHEN na > 0 AND nb > 0
        THEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) * d2 END, 6) + 0.0 AS e_stat
FROM f
"""


def q_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks variance test between returned and
    acknowledged line prices — rank-robust scale comparison; exact
    first moments, double fourth moment in the z denominator."""
    from csp_gateway_spark.operators.analytics import conover_squared_ranks

    li = _t(spark, sf_dir, "lineitem")
    cells, _, _ = _ra_price_cells(spark, sf_dir)
    out = conover_squared_ranks(
        li, "l_returnflag", "l_extendedprice", "R", "A", cells=cells
    )
    return out.select(
        "n_a", "n_b",
        (F.round((F.col("t_stat") / F.lit(1e9)), 6) + F.lit(0.0)).alias("t_stat_1e9"),
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_CONOVER_SQUARED_RANKS = """
WITH b AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ga,
         CAST(l_extendedprice AS DECIMAL(19,2)) AS v
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
), st AS (
  SELECT
    CAST(SUM(CASE WHEN ga = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN ga = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    SUM(CASE WHEN ga = 1 THEN CAST(v AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sa,
    SUM(CASE WHEN ga = 0 THEN CAST(v AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END) AS sb
  FROM b
), u AS (
  SELECT ga,
    abs(CAST(v AS DOUBLE) - CASE WHEN ga = 1
        THEN CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        ELSE CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) END) AS uu
  FROM b, st
), cells AS (
  SELECT uu, CAST(SUM(ga) AS BIGINT) AS ca, CAST(SUM(1 - ga) AS BIGINT) AS cb
  FROM u GROUP BY 1
), r AS (
  SELECT ca, cb,
    SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb
  FROM cells WINDOW w AS (ORDER BY uu ROWS UNBOUNDED PRECEDING)
), q AS (
  SELECT ca, cb,
    CAST(2 * (cca + ccb - ca - cb) + (ca + cb) + 1 AS HUGEINT) AS two_r
  FROM r
), s AS (
  SELECT
    SUM(CAST(ca AS HUGEINT) * (two_r * two_r)) AS qa,
    SUM(CAST(ca + cb AS HUGEINT) * (two_r * two_r)) AS qt,
    SUM(CAST(ca + cb AS DOUBLE)
        * (CAST(two_r * two_r AS DOUBLE) * CAST(two_r * two_r AS DOUBLE))) AS q4,
    CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2
  FROM q
), f AS (
  SELECT n1, n2,
    CAST(qa AS DOUBLE) / 4.0 AS t_stat,
    CAST(qt AS DOUBLE) / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS meanr2,
    q4 / (16.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS m4
  FROM s
), f2 AS (
  SELECT n1, n2, t_stat, meanr2, m4 - meanr2 * meanr2 AS varpop
  FROM f
)
SELECT n1 AS n_a, n2 AS n_b,
  round(t_stat / 1000000000.0, 6) + 0.0 AS t_stat_1e9,
  round(CASE WHEN n1 > 1 AND n2 > 1 AND varpop > 0
        THEN (t_stat - CAST(n1 AS DOUBLE) * meanr2)
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0) * varpop)
  END, 6) + 0.0 AS z
FROM f2
"""


# ---------------------------------------------------------------------------
# wave 41 (round 14) — robust estimation (analytics.py wave-41 block)
# ---------------------------------------------------------------------------

_YUEN_TRIM = 0.2


def q_yuen_trimmed_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen trimmed-mean t (20% trim) between returned and
    acknowledged line prices — order statistics and trimmed/
    winsorized sums from exact rank-overlap arithmetic."""
    from csp_gateway_spark.operators.analytics import yuen_trimmed_t

    li = _t(spark, sf_dir, "lineitem")
    cells, n_cells, _ = _ra_price_cells(spark, sf_dir)
    out = yuen_trimmed_t(
        li, "l_returnflag", "l_extendedprice", "R", "A", trim=_YUEN_TRIM,
        cells=cells, cells_count=n_cells,
    )
    return out.select(
        "h_a", "h_b",
        (F.round("mean_trim_a", 6) + F.lit(0.0)).alias("mean_trim_a"),
        (F.round("mean_trim_b", 6) + F.lit(0.0)).alias("mean_trim_b"),
        (F.round("t_stat", 6) + F.lit(0.0)).alias("t_stat"),
    )


ORACLE_YUEN_TRIMMED_T = f"""
WITH cells AS (
  SELECT CAST(l_extendedprice AS DECIMAL(15,2)) AS v,
    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), r AS (
  SELECT v, ca, cb,
    SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb
  FROM cells WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM cells
), cut AS (
  SELECT CAST(floor({_YUEN_TRIM} * na) AS BIGINT) AS ga,
         CAST(floor({_YUEN_TRIM} * nb) AS BIGINT) AS gb, na, nb
  FROM tot
), ov AS (
  SELECT v, ca, cb, cca, ccb, ga, gb, na, nb,
    greatest(least(cca, na - ga) - greatest(cca - ca, ga), 0) AS ova,
    greatest(least(ccb, nb - gb) - greatest(ccb - cb, gb), 0) AS ovb
  FROM r, cut
), s1 AS (
  SELECT
    CAST(SUM(CAST(v * ova AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS tsa,
    CAST(SUM(CAST(v * ovb AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS tsb,
    CAST(SUM(CAST(CAST(v * v AS DECIMAL(31,4)) * ova AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS qa,
    CAST(SUM(CAST(CAST(v * v AS DECIMAL(31,4)) * ovb AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS qb,
    MIN(CASE WHEN cca >= ga + 1 THEN v END) AS loa,
    MIN(CASE WHEN cca >= na - ga THEN v END) AS hia,
    MIN(CASE WHEN ccb >= gb + 1 THEN v END) AS lob,
    MIN(CASE WHEN ccb >= nb - gb THEN v END) AS hib
  FROM ov
), f AS (
  SELECT na, nb, ga, gb,
    CAST(na - 2 * ga AS DOUBLE) AS h1, CAST(nb - 2 * gb AS DOUBLE) AS h2,
    CAST(tsa AS DOUBLE) AS ts1, CAST(tsb AS DOUBLE) AS ts2,
    CAST(qa AS DOUBLE) AS q1, CAST(qb AS DOUBLE) AS q2,
    CAST(ga AS DOUBLE) AS g1d, CAST(gb AS DOUBLE) AS g2d,
    CAST(loa AS DOUBLE) AS lo1, CAST(hia AS DOUBLE) AS hi1,
    CAST(lob AS DOUBLE) AS lo2, CAST(hib AS DOUBLE) AS hi2
  FROM s1, cut
), f2 AS (
  SELECT h1, h2,
    ts1 / h1 AS mt1, ts2 / h2 AS mt2,
    (q1 + g1d * (lo1 * lo1 + hi1 * hi1))
      - (ts1 + g1d * (lo1 + hi1)) * (ts1 + g1d * (lo1 + hi1)) / CAST(na AS DOUBLE) AS ssd1,
    (q2 + g2d * (lo2 * lo2 + hi2 * hi2))
      - (ts2 + g2d * (lo2 + hi2)) * (ts2 + g2d * (lo2 + hi2)) / CAST(nb AS DOUBLE) AS ssd2
  FROM f
), f3 AS (
  SELECT h1, h2, mt1, mt2,
    ssd1 / (h1 * (h1 - 1.0)) AS d1,
    ssd2 / (h2 * (h2 - 1.0)) AS d2
  FROM f2
)
SELECT CAST(h1 AS BIGINT) AS h_a, CAST(h2 AS BIGINT) AS h_b,
  round(mt1, 6) + 0.0 AS mean_trim_a,
  round(mt2, 6) + 0.0 AS mean_trim_b,
  round(CASE WHEN h1 > 1 AND h2 > 1 AND d1 + d2 > 0
        THEN (mt1 - mt2) / sqrt(d1 + d2) END, 6) + 0.0 AS t_stat
FROM f3
"""


_HUBER_K = 1.345
_HUBER_STEPS = 2


def q_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber IRLS (2 reweighting passes, k = 1.345) of order value on
    order day — the outlier-robust twin of the pooled OLS trend;
    coefficients/pseudo-scale as ONE broadcast row per pass."""
    from csp_gateway_spark.operators.analytics import huber_irls

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit(_LAG_CORR_EPOCH)).alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    out = huber_irls(daily, "y", "x", k=_HUBER_K, steps=_HUBER_STEPS)
    return out.select(
        "n",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("alpha", 4) + F.lit(0.0)).alias("alpha"),
        "n_downweighted",
    )


def _huber_iter_sql(steps: int) -> str:
    """Unrolled IRLS CTE chain mirroring `huber_irls` step-for-step
    (c0 = the OLS + pseudo-scale row; c{s} after reweighting pass s)."""
    parts = [f"""c0 AS (
  SELECT n0,
    cxy / cxx AS b,
    (sy - (cxy / cxx) * sx) / nd AS a,
    sqrt(greatest((cyy - (cxy / cxx) * cxy) / nd, 0.0)) AS s,
    CAST(0 AS BIGINT) AS ndw
  FROM st1
)"""]
    for s in range(1, steps + 1):
        prev = f"c{s - 1}"
        parts.append(f"""w{s} AS (
  SELECT x, y,
    CASE WHEN abs(y - a - b * x) > 0 AND s > 0
         THEN least(1.0, {_HUBER_K} * s / abs(y - a - b * x))
         ELSE 1.0 END AS w,
    y - a - b * x AS e
  FROM base, {prev}
), s{s} AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
    SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
    SUM(w * x * x) AS swxx, SUM(w * x * y) AS swxy,
    SUM(e * e) AS see,
    CAST(SUM(CASE WHEN w < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS ndw
  FROM w{s}
), c{s} AS (
  SELECT n0,
    (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS b,
    (swy - (swxy - swx * swy / sw) / (swxx - swx * swx / sw) * swx) / sw AS a,
    sqrt(see / CAST(n0 AS DOUBLE)) AS s,
    ndw
  FROM s{s}
)""")
    return ",\n".join(parts)


ORACLE_HUBER_IRLS = f"""
WITH base AS (
  SELECT CAST(date_diff('day', DATE '{_LAG_CORR_EPOCH}', o_orderdate) AS DOUBLE) AS x,
         CAST(o_totalprice AS DOUBLE) AS y
  FROM orders
), st1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n0, CAST(count(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE)
      - CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE)
        * CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cxx,
    CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE)
      - CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE)
        * CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cxy,
    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE)
      - CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE)
        * CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cyy
  FROM base
),
{_huber_iter_sql(_HUBER_STEPS)}
SELECT n0 AS n,
  round(b, 6) + 0.0 AS beta,
  round(a, 4) + 0.0 AS alpha,
  ndw AS n_downweighted
FROM c{_HUBER_STEPS}
"""


#: Every gate, once, in driver order.  The driver's correctness harness
#: checks only the first 50 entries, so the head is a rotation window:
#: the eleven streaming replay shapes (the only gates that run
#: Structured Streaming under the driver), then the round-14 operators
#: with the least driver evidence, then the older TPC-H and curation
#: shapes.  The rest follow in registration order.
GATES = (
    "state_stream_replay",
    "window_stream_replay",
    "dedup_stream_replay",
    "join_stream_replay",
    "session_stream_replay",
    "enrich_stream_replay",
    "replay_handoff",
    "topk_stream_replay",
    "argmax_stream_replay",
    "outer_join_stream_replay",
    "join_window_stream_replay",
    "jonckheere",
    "cochran_armitage",
    "mattr_diversity",
    "ordinal_assoc",
    "dickey_fuller",
    "hurst_rs",
    "anderson_darling",
    "quade_test",
    "variance_ratio",
    "granger_lag1",
    "engle_granger",
    "deming_fit",
    "bland_altman",
    "optimal_cutoff",
    "lift_table",
    "breusch_pagan",
    "chow_test",
    "arch_lm",
    "kpss_test",
    "cox_ph",
    "schoenfeld_trend",
    "harrell_c",
    "fe_within",
    "between_reg",
    "cluster_se",
    "diebold_mariano",
    "pesaran_timmermann",
    "theil_u2",
    "rake_keywords",
    "textrank_keywords",
    "energy_distance",
    "conover_squared_ranks",
    "yuen_trimmed_t",
    "huber_irls",
    "volume_shipping",
    "returned_items",
    "promo_revenue",
    "large_volume_orders",
    "brand_discount_revenue",
    # ---- the driver checks the 50 entries above ----
    "market_share",
    "product_type_profit",
    "customer_distribution",
    "top_supplier",
    "small_quantity_revenue",
    "sole_returned_supplier",
    "global_sales_opportunity",
    "min_cost_supplier",
    "important_parts",
    "linestatus_priority",
    "parts_supplier_counts",
    "promotion_candidates",
    "multimodal_meta",
    "multimodal_image_meta",
    "multimodal_jpeg_meta",
    "lm_perplexity",
    "semantic_dedup",
    "embedding_pool",
    "temperature_mix",
    "tf_hash",
    "chunk_documents",
    "cms_topk",
    "bloom_decontaminate",
    "embedding_pca",
    "bpe_train",
    "substring_spans",
    "length_quantiles",
    "dsir_weights",
    "dsir_sample",
    "pq_codes",
    "pq_search",
    "hdr_quantiles",
    "lr_quality_weights",
    # ---- end of the rotation window ----
    "state_keyed_last",
    "state_filter_query",
    "perspective_view",
    "perspective_pivot",
    "table_index_limit",
    "window_tumbling",
    "window_session",
    "asof_join",
    "interval_join",
    "union_merge",
    "lookup_by_id",
    "explode_embeddings",
    "text_stats",
    "dedup_exact",
    "minhash_signature",
    "ngram_jaccard",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "ann_cosine_topk",
    "embedding_neardup",
    "embedding_neardup_lsh",
    "ann_lsh_topk",
    "revenue_by_nation",
    "top_customers",
    "channel_processor",
    "tick_counts",
    "time_gate",
    "identity_lookup",
    "window_sliding",
    "flatten_struct",
    "replay_rewrite",
    "text_clean",
    "vocab_topk",
    "tfidf",
    "dedup_components",
    "doc_fingerprints",
    "sales_cube",
    "topk_per_group",
    "distinct_counts",
    "quality_filter",
    "ann_ivf_topk",
    "pricing_summary",
    "forecast_revenue",
    "order_priority",
    "near_dedup_pipeline",
    "state_multikey",
    "json_props",
    "array_stats",
    "approx_distinct",
    "shipping_priority",
    "local_supplier_volume",
    "hypertable_rollup",
    "decontaminate",
    "stratified_sample",
    "line_dedup",
    "train_split",
    "sequence_pack",
    "repetition_stats",
    "kmeans_refine",
    "char_entropy",
    "vocab_encode",
    "embedding_quantize",
    "fingerprint_pairs",
    "lr_quality_scores",
    "edit_distance_pairs",
    "pagerank_docs",
    "zipf_fit",
    "pmi_collocations",
    "epoch_upsample",
    "contamination_report",
    "dedup_incremental",
    "cdc_chunks",
    "encoding_quality",
    "blocklist_screen",
    "deterministic_shuffle",
    "unicode_nfc",
    "embedding_standardize",
    "hard_negatives",
    "vocab_coverage",
    "bm25_topk",
    "url_canonical",
    "url_dedup",
    "source_drift",
    "gopher_quality",
    "c4_quality",
    "lm_backoff",
    "budget_mix",
    "bag_dedup",
    "ngram_novelty",
    "padding_report",
    "pii_report",
    "profile_table",
    "winsorize_prices",
    "exemplars",
    "funnel",
    "retention",
    "rolling_value",
    "gap_fill",
    "hybrid_search",
    "market_basket",
    "mad_outliers",
    "scd2",
    "value_histogram",
    "vwap",
    "key_skew",
    "calibration",
    "lang_confusion",
    "ctfidf",
    "triangle_count",
    "fk_audit",
    "table_diff",
    "window_topk",
    "event_transitions",
    "interarrival",
    "asof_forward",
    "asof_nearest",
    "revenue_mom",
    "pareto_revenue",
    "benford",
    "cep_pattern",
    "ship_latency",
    "churn",
    "stickiness",
    "new_vs_returning",
    "sales_rollup",
    "event_trigrams",
    "rfm_segments",
    "cohort_ltv",
    "dup_invoices",
    "incremental_agg",
    "session_funnel",
    "depth_histogram",
    "cdc_merge",
    "time_travel",
    "ewma_forecast",
    "cusum",
    "ab_test",
    "k_anonymity",
    "label_propagation",
    "exact_quantiles",
    "weighted_median",
    "seasonal_index",
    "anomaly_days",
    "windowed_funnel",
    "cdc_diff",
    "cluster_quality",
    "chi_square",
    "bounce_rate",
    "tokenizer_fertility",
    "source_overlap",
    "pr_curve",
    "grouped_weighted_median",
    "psi_drift",
    "order_reconciliation",
    "hierarchy_share",
    "dup_cluster_stats",
    "top_movers",
    "lsh_eval",
    "mahalanobis",
    "kcore",
    "conversion_lag",
    "weighted_sample",
    "theil_sen",
    "mann_kendall",
    "pettitt_test",
    "cronbach_alpha",
    "icc_oneway",
    "friedman_test",
    "cochran_q",
    "kendall_tau",
    "cvm_test",
    "macd_signal",
    "hits_scores",
    "distinct_ngrams",
    "durbin_watson",
    "ljung_box",
    "mcnemar_test",
    "page_trend",
    "bartlett_test",
    "hodges_lehmann",
    "assortativity",
    "source_diversity",
    "bootstrap_mean_ci",
    "signflip_test",
    "jackknife_variance",
    "wasserstein",
    "partial_corr",
    "clustering_coeff",
    "transition_entropy",
    "periodogram",
    "kn_bigram_entropy",
    "conformal_interval",
    "doremi_weights",
    "tukey_hsd",
    "cumulative_incidence",
    "levene_test",
    "dedup_threshold_sweep",
    "token_coverage",
    "semantic_decontaminate",
    "gini",
    "mutual_information",
    "user_streaks",
    "first_seen_growth",
    "active_orders",
    "group_ols_trend",
    "ntile_histogram",
    "containment_pairs",
    "vocab_growth",
    "prefix_dup_groups",
    "boilerplate_ngrams",
    "kaplan_meier",
    "correlation_matrix",
    "welch_ttest",
    "lag_corr",
    "nelson_aalen",
    "burstiness",
    "ks_test",
    "holt_forecast",
    "mann_whitney",
    "changepoint",
    "kruskal_wallis",
    "logrank_test",
    "runs_test",
    "max_drawdown",
    "hhi_concentration",
    "cramers_v",
    "rmst",
    "quadratic_trend",
    "spearman_corr",
    "jarque_bera",
    "grubbs_test",
    "diff_in_diff",
    "holt_winters",
    "adamic_adar",
    "topk_overlap",
    "cuped",
    "croston",
    "wilcoxon",
    "anova_f",
    "roc_auc",
    "cohen_kappa",
    "fleiss_kappa",
    "l_diversity",
    "sprt_monitor",
    "bollinger_breaches",
    "rsi_signal",
    "realized_vol",
    "attribution",
    "info_gain",
    "isotonic_calibration",
    "readability",
    "rouge_overlap",
    "retrieval_metrics",
    "quantile_normalize",
    "stl_decompose",
    "seasonal_anomaly",
    "pacf",
    "burrows_delta",
    "hill_tail",
    "code_switch",
    "expectations_report",
    "fdr_bh",
    "ar_forecast",
    "identity_stitch",
    "mmr_rerank",
    "t_closeness",
    "brier_decomposition",
    "kcenter_sample",
    "mood_median",
    "brunner_munzel",
    "theil_sen_daily",
    "mase_backtest",
    "embedding_drift",
    "quantiles_probe",
    "iqr_outliers",
    "ansari_bradley",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    g = globals()
    defined = {n[2:] for n in g if n.startswith("q_") and callable(g[n])}
    assert defined == set(GATES) and len(GATES) == len(defined)
    return {name: _stable(g["q_" + name]) for name in GATES}


def oracle_sql() -> dict[str, str]:
    g = globals()
    return {
        n: g[f"ORACLE_{n.upper()}"] if f"ORACLE_{n.upper()}" in g else g[f"_oracle_{n}"]()
        for n in GATES
    }
