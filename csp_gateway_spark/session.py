"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB design point):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  On a real cluster set it to ~2-3x total cores.
- Arrow enabled for every pandas-UDF / toPandas boundary.
- For streaming state at scale, switch the state store to RocksDB
  (spark.sql.streaming.stateStore.providerClass) — configured here but
  harmless in batch.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# --- session clones ----------------------------------------------------------
# Two job families need conf that differs from the caller's session:
#
# - bounded finalize: the rank/ECDF/bootstrap family materializes BOUNDED
#   results (one row / a handful of rows) with AQE off: every stage is
#   collapse-bounded with known sizes, so per-stage runtime re-planning
#   buys nothing and was measured at up to half the operator wall clock
#   on local[32];
# - streaming replay: each replay trigger streams a tiny slice, so the
#   cost is state-store open/commit per (trigger x partition x join
#   side).  Two shuffle partitions (measured ~2.4x faster than 8 on the
#   stream-stream join replays at sf0.1) and the in-memory HDFS-backed
#   provider (a few thousand keys for <= 10 triggers, then the checkpoint
#   is dropped; ~0.2 s per gate cheaper than RocksDB's native
#   open/commit) fit that shape.  The session default stays RocksDB, the
#   production choice for unbounded keyed state.  State values are
#   partition- and provider-invariant, so landed tables are unchanged.
#
# Mutating conf on the SHARED session for the scope of a job is a
# concurrency race (a concurrent request plans under the wrong conf; two
# overlapping scopes clobber each other's restore value), so each family
# runs on a dedicated `newSession()` clone instead: same SparkContext,
# same RDD/block state, same *global temp* view namespace, its own
# SQLConf with the overlay set once at creation and never mutated again.
# DataFrames cross the session boundary through the shared
# global-temp-view catalog (classic mode resolves `spark.table()`
# eagerly, so the short-lived view can be dropped immediately).

_CLONES: dict = {}
_CLONES_LOCK = threading.Lock()

# runtime confs a clone inherits from its parent at creation so its
# plans differ ONLY in its overlay (`newSession()` starts from the
# builder conf, not the parent's runtime conf)
_CLONE_INHERIT = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
)

_BOUNDED_OVERLAY = (("spark.sql.adaptive.enabled", "false"),)

_REPLAY_OVERLAY = (
    ("spark.sql.shuffle.partitions", "2"),
    (
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    ),
)


def _clone(sess: SparkSession, overlay: tuple) -> SparkSession:
    """The ``overlay`` clone for ``sess``'s SparkContext (memoized per
    context and overlay; idempotent when handed that clone itself)."""
    with _CLONES_LOCK:
        for (_, ov), cs in _CLONES.items():
            if ov is overlay and cs is sess:
                return sess
        sc = sess.sparkContext
        key = ((sc.applicationId, sc.startTime), overlay)
        cs = _CLONES.get(key)
        if cs is None:
            cs = sess.newSession()
            for k in _CLONE_INHERIT:
                v = sess.conf.get(k, None)
                if v is not None:
                    cs.conf.set(k, v)
            for k, v in overlay:
                cs.conf.set(k, v)
            _CLONES[key] = cs
        return cs


def bounded_session(sess: SparkSession) -> SparkSession:
    """The AQE-off clone for ``sess``'s SparkContext."""
    return _clone(sess, _BOUNDED_OVERLAY)


def replay_session(sess: SparkSession) -> SparkSession:
    """The streaming-replay clone for ``sess``'s SparkContext (two
    shuffle partitions, HDFS-backed state store).  Streaming listeners
    are per session, so every listener registered on ``sess`` is also
    added to the clone: queries started there report their progress to
    the listeners of each session that asked for the clone."""
    rs = _clone(sess, _REPLAY_OVERLAY)
    if rs is not sess:
        with _CLONES_LOCK:
            have = list(rs._jsparkSession.streams().listListeners())
            for lis in sess._jsparkSession.streams().listListeners():
                if lis not in have:
                    rs._jsparkSession.streams().addListener(lis)
    return rs


def rebind_session(df, target: SparkSession):
    """Re-expose ``df``'s logical plan as a DataFrame of ``target``
    (same SparkContext) via a transient global temp view.  The target
    resolves the view eagerly (classic mode), so the view is dropped
    before returning; execution then runs under ``target``'s conf."""
    if df.sparkSession is target:
        return df
    name = f"csp_rebind_{uuid.uuid4().hex}"
    df.createOrReplaceGlobalTempView(name)
    try:
        return target.table(f"global_temp.{name}")
    finally:
        target.catalog.dropGlobalTempView(name)


def run_bounded(out, target: SparkSession | None = None):
    """Materialize a BOUNDED-result frame on the AQE-off bounded
    session (eager localCheckpoint — the caller's collect reads
    materialized rows regardless of its own session settings) and
    return the checkpointed rows bound to ``target`` (default: the
    frame's own session).  Thread-safe: no shared conf is mutated."""
    target = target or out.sparkSession
    bs = bounded_session(out.sparkSession)
    ck = rebind_session(out, bs).localCheckpoint(eager=True)
    return rebind_session(ck, target)


def get_spark(app_name: str = "csp-gateway-spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession with scale-appropriate defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect session parallelism when coalescing post-shuffle
        # partitions (the Spark DEFAULT, restored in r14): with
        # parallelismFirst=false the advisory byte target collapsed
        # every small shuffle to 1-3 tasks and the compute-heavy
        # post-shuffle stages (shingle window + md5, rank cumulative)
        # ran serially — measured at sf0.1: bloom_decontaminate
        # 5.2→3.4 s, dedup_minhash_pairs 2.6→1.9 s, containment_pairs
        # 2.5→1.9 s, SQL-aggregate family neutral.  The floor below
        # lets tiny shuffles still spread (64 KB × parallelism before
        # byte-sizing wins); at 100 TB bytes/parallelism ≫ the floor,
        # so both settings are inert at scale — advisory sizing
        # dominates exactly as before.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64KB"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", cpus)
        # --- Arrow / pandas UDF boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan behavior ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # 80+ distinct query shapes overflow the default 100-entry
        # generated-class cache; eviction forces Janino recompiles (~10 s
        # for the widest aggregates) at random on repeated runs
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # events.ts is parquet TIMESTAMP(NANOS): read as int64 nanos (Spark
        # has no ns timestamp type); compare with DuckDB epoch_ns(ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # --- streaming state at scale ---
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle/blockmgr/localCheckpoint scratch on tmpfs when available:
    # this sandbox's block device throttles to single-digit MB/s
    # sustained writes (measured 5 MB/s vs 740 MB/s on /dev/shm), which
    # turns every spill/checkpoint into an I/O stall.  On a real
    # cluster spark.local.dir is the executor's local SSD/NVMe — tmpfs
    # here models that, it does not change any result.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if shm is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        shm = "/dev/shm/csp_gw_spark_local"
    if shm:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    return builder.getOrCreate()


def normalize_event_ts(df, col: str = "ts"):
    """Pin the engine contract `events.ts == epoch-nanoseconds long`
    regardless of how the parquet encodes it.

    The driver's testdata has shipped both TIMESTAMP(NANOS) (read as
    long via ``nanosAsLong``; already the contract form) and
    TIMESTAMP(MICROS) (arrives as timestamp/timestamp_ntz; converted
    here).  NTZ values are naive UTC — same convention DuckDB's
    ``epoch_ns(ts)`` applies on the oracle side — so the session
    timezone must be UTC when casting (get_spark and read_table both
    pin it)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        df = df.withColumn(
            col, (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long")
        )
    return df


_READ_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table with ``events.ts`` as epoch-ns long.
    The confs go on THIS session, which may be built elsewhere (the
    driver's harness does): ``nanosAsLong`` reads TIMESTAMP(NANOS) as
    the long, UTC keeps ``normalize_event_ts``'s MICROS path stable.
    A session that already carries them (``get_spark`` sets both) is
    left untouched."""
    for k, v in _READ_CONFS:
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None):
    """Load the driver's parquet tables (``read_table``) and register
    them as temp views.

    Returns ``dict[name, DataFrame]``.  Column pruning + predicate
    pushdown reach the scan because these are plain parquet reads.
    """
    names = tables or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for name in names:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = out[name] = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
    return out
