"""Streaming replays run on `session.replay_session`, a `newSession()`
clone whose conf is fixed at creation: no replay gate writes conf on
the caller's (shared) session, not even when the replay fails."""

import glob
import os
import subprocess
import sys
import time
import uuid

import pytest

import __spark_entry__ as entry
from csp_gateway_spark.session import bounded_session, replay_session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAM_GATES = [g for g in entry.GATES if g.endswith("_stream_replay")]
REPLAY_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
)


@pytest.fixture
def conf_writes(spark, monkeypatch):
    """Record every `RuntimeConfig.set`/`unset` on the caller session."""
    calls = []
    conf = spark.conf
    for name in ("set", "unset"):
        monkeypatch.setattr(
            conf, name, lambda *a, _n=name: calls.append((_n,) + a)
        )
    return calls


@pytest.mark.parametrize("gate", STREAM_GATES)
def test_replay_gate_leaves_shared_conf_alone(spark, sf_dir, conf_writes, gate):
    before = dict(spark.conf.getAll)
    out = entry.queries()[gate](spark, sf_dir)
    assert out.sparkSession is spark
    assert out.count() > 0
    assert conf_writes == []
    assert dict(spark.conf.getAll) == before


def _unreadable_split(df, n, key="event_id"):
    """A replay source the stream cannot read: one non-parquet file."""

    def stage(root):
        src = os.path.join(root, "src")
        os.makedirs(src)
        with open(os.path.join(src, "part-00000.parquet"), "wb") as f:
            f.write(b"not parquet")
        return src

    return stage


@pytest.mark.parametrize("gate", ["window_stream_replay", "state_stream_replay"])
def test_failed_replay_leaves_conf_and_no_scratch(
    spark, sf_dir, conf_writes, monkeypatch, gate
):
    roots = []
    make_root = entry._gate_tmpdir

    def record_root(prefix):
        roots.append(make_root(prefix))
        return roots[-1]

    monkeypatch.setattr(entry, "_hash_split", _unreadable_split)
    monkeypatch.setattr(entry, "_gate_tmpdir", record_root)
    before = {k: spark.conf.get(k) for k in REPLAY_CONFS}
    with pytest.raises(Exception):
        entry.queries()[gate](spark, sf_dir)
    assert {k: spark.conf.get(k) for k in REPLAY_CONFS} == before
    assert conf_writes == []
    assert roots and not any(os.path.exists(r) for r in roots)


def test_replay_session_is_one_memoized_clone(spark):
    rs = replay_session(spark)
    assert rs is not spark and rs.sparkContext is spark.sparkContext
    assert replay_session(spark) is rs
    assert replay_session(rs) is rs
    assert bounded_session(spark) is not rs
    assert rs.conf.get("spark.sql.shuffle.partitions") == "2"
    assert rs.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
        "HDFSBackedStateStoreProvider"
    )
    assert rs.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )


def test_caller_listeners_see_replay_progress(spark, sf_dir):
    """Streaming listeners are per session; a listener on the caller
    still hears the replay's micro-batches."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(event.progress.name)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        entry.q_dedup_stream_replay(spark, sf_dir).count()
        deadline = time.time() + 10  # the listener bus is asynchronous
        while not seen and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
        replay_session(spark).streams.removeListener(listener)
    assert any(name and name.startswith("gate_dstream_") for name in seen)


class _Done:
    """A query that has run to its end."""

    def awaitTermination(self):
        pass

    def stop(self):
        pass


def _landed(root, src):
    os.makedirs(os.path.join(root, "landing"))
    return _Done()


def test_replay_keeps_one_landing_per_gate():
    """Three calls of one gate leave one scratch root: the last."""
    name = f"keep_{uuid.uuid4().hex}"
    landings = [entry._replay(name, lambda root: root, _landed, "landing") for _ in range(3)]
    root = os.path.dirname(landings[-1])
    assert glob.glob(os.path.join(os.path.dirname(root), f"csp_gw_{name}_{os.getpid()}_*")) == [root]
    assert os.listdir(root) == ["landing"]


def test_replay_landings_go_at_exit():
    """A process that exits leaves no landing behind."""
    code = (
        "import sys, __spark_entry__ as e\n"
        "from tests.test_replay_session import _landed\n"
        "for name in ('a', 'b'):\n"
        "    print(e._replay(f'exit_{name}_' + sys.argv[1], lambda root: root, _landed, 'landing'))\n"
    )
    tag = uuid.uuid4().hex
    out = subprocess.run(
        [sys.executable, "-c", code, tag], capture_output=True, text=True, check=True, cwd=ROOT
    ).stdout.split()
    assert len(out) == 2 and not any(os.path.exists(os.path.dirname(p)) for p in out)
