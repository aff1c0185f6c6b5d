"""Corpus operators, channel selection, REST client + /next long-poll.

Models: reference tests/shared/test_channel_selection.py (selection),
tests/client/test_client.py (client round-trips), and the futures
adapter's blocking-read semantics (futures/adapter.py:69-134).
"""

import json
import threading
import urllib.error
import urllib.request

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.client import GatewayClient
from csp_gateway_spark.operators import corpus
from csp_gateway_spark.operators.corpus import (
    connected_components,
    dedup_keep_representatives,
    tf_idf,
    vocab_topk,
)
from csp_gateway_spark.operators.text import clean_text
from csp_gateway_spark.selection import ChannelSelection, SubscriptionManager
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer

QUOTE = T.StructType(
    [T.StructField("sym", T.StringType()), T.StructField("px", T.DoubleType())]
)


# --- corpus ------------------------------------------------------------


def test_connected_components_two_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def _bfs_components(edges):
    """Reference: BFS over the non-null endpoints; a null endpoint is
    one node with a null component."""
    adj = {}
    for a, b in edges:
        for x, y in ((a, b), (b, a)):
            if x is not None:
                adj.setdefault(x, set())
                if y is not None:
                    adj[x].add(y)
    out = {None: None} if any(None in e for e in edges) else {}
    for start in adj:
        if start in out:
            continue
        seen, todo = {start}, [start]
        while todo:
            for y in adj[todo.pop()] - seen:
                seen.add(y)
                todo.append(y)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda r: (r[0] is None, r[0]))


_IDS = st.one_of(st.none(), st.integers(0, 11))


@st.composite
def _graphs(draw):
    """Duplicates, reversed duplicates, self-loops and null endpoints
    come from the small id pool; a long chain is appended in a drawn
    order and direction."""
    edges = draw(st.lists(st.tuples(_IDS, _IDS), max_size=20))
    edges += [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=5))] if edges else []
    n = draw(st.integers(0, 24))
    chain = [(100 + i, 101 + i)[:: draw(st.sampled_from([1, -1]))] for i in range(n)]
    return edges + draw(st.permutations(chain))


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(edges=_graphs())
def test_connected_components_paths_agree(spark, monkeypatch, id_type, edges):
    """The driver union-find, the distributed loop and a BFS reference
    give the same (node, component) rows and column types."""
    if id_type == "string":  # string order differs from numeric: "100" < "11"
        edges = [tuple(None if x is None else str(x) for x in e) for e in edges]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    driver = connected_components(pairs)
    with monkeypatch.context() as m:
        m.setattr(corpus, "DRIVER_EDGES", -1)
        distributed = connected_components(pairs)
    want = sorted(_bfs_components(edges).items(), key=lambda r: (r[0] is None, r[0]))
    assert _rows(driver) == _rows(distributed) == want
    assert driver.schema == distributed.schema


def test_dedup_keep_representatives(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_keep_representatives(docs, pairs).collect())
    assert kept == [0, 1, 2, 4]  # 3 and 5 fold into cluster rep 0


def test_clean_text_html_url_pii(spark):
    raw = '<p>Hi &amp; bye</p> see https://x.io/a?b=1 mail a.b@c.org or call +1 (555) 123-4567 now'
    row = spark.range(1).select(clean_text(F.lit(raw)).alias("c")).first()
    assert row["c"] == "Hi & bye see mail <EMAIL> or call <PHONE> now"


def test_vocab_and_tfidf(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        ["doc_id", "text"],
    )
    top = vocab_topk(docs, k=2).collect()
    assert [(r["token"], r["n"]) for r in top] == [("apple", 3), ("banana", 2)]
    w = {(r["doc_id"], r["token"]): (r["tf"], r["df"]) for r in tf_idf(docs).collect()}
    assert w[(1, "apple")] == (2, 2) and w[(2, "cherry")] == (1, 1)


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: docs sharing a run of >= window + k - 1
    tokens share at least one fingerprint; disjoint docs share none."""
    from csp_gateway_spark.operators.corpus import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= 4+4-1
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} trailing bits"),
            (2, f"other opening {shared} different ending"),
            (3, "completely unrelated text with no overlap at all whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(docs, k=4, window=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set()))
    # short doc -> no fingerprints
    short = spark.createDataFrame([(9, "just five little words here")], ["doc_id", "text"])
    assert winnow_fingerprints(short, k=4, window=4).count() == 0


# --- selection ---------------------------------------------------------


def test_channel_selection_ordering_and_errors():
    avail = ["a", "b", "c", "d"]
    assert ChannelSelection().select(avail) == avail
    assert ChannelSelection(exclude=["b"]).select(avail) == ["a", "c", "d"]
    assert ChannelSelection(include=["d", "a"]).select(avail) == ["d", "a"]
    assert ChannelSelection(include=["d", "a"], exclude=["a"]).select(avail) == ["d"]
    with pytest.raises(KeyError):
        ChannelSelection(include=["zz"]).select(avail)


def test_subscription_manager_fanout_and_bounded_queue():
    mgr = SubscriptionManager()
    assert not mgr.is_active("t")
    all_sub = mgr.subscribe("t")
    key_sub = mgr.subscribe("t", key="A")
    assert mgr.is_active("t")
    n = mgr.publish("t", [{"k": "A", "v": 1}, {"k": "B", "v": 2}], key_field="k")
    assert n == 3  # 2 to wildcard + 1 key-matched
    assert all_sub.get(timeout=1)["v"] == 1
    assert key_sub.get(timeout=1)["k"] == "A"
    mgr.unsubscribe(all_sub)
    mgr.unsubscribe(key_sub)
    assert not mgr.is_active("t")
    # bounded queue drops oldest instead of blocking the publisher
    tiny = SubscriptionManager()
    s = tiny.subscribe("t")
    s.queue.maxsize = 2
    tiny.publish("t", [{"v": i} for i in range(5)])
    assert s.get(timeout=1)["v"] == 3 and s.get(timeout=1)["v"] == 4


# --- client + /next ----------------------------------------------------


@pytest.fixture(scope="module")
def served(spark):
    cat = ChannelCatalog(spark)
    cat.declare("quotes", QUOTE)
    cat.declare_state("quotes", "sym")
    cat.send("quotes", [{"sym": "A", "px": 1.0}])
    srv = GatewayHttpServer(GatewayApi(cat)).start()
    yield srv
    srv.stop()


def test_client_round_trip(served):
    cli = GatewayClient(f"http://127.0.0.1:{served.port}")
    assert cli.heartbeat()["status"] == "ok"
    assert "quotes" in cli.channels()
    assert cli.state("quotes", sym="A")[0]["px"] == 1.0
    echoed = cli.send("quotes", {"sym": "B", "px": 2.0})
    assert echoed[0]["sym"] == "B"
    assert cli.lookup("quotes", echoed[0]["id"])[0]["px"] == 2.0
    pdf = GatewayClient(f"http://127.0.0.1:{served.port}", return_type="pandas").state("quotes")
    assert sorted(pdf["sym"]) == ["A", "B"]


def test_next_long_poll_releases_on_send(served):
    cli = GatewayClient(f"http://127.0.0.1:{served.port}")
    got = {}

    def waiter():
        got["rows"] = cli.next("quotes", timeout=10)

    t = threading.Thread(target=waiter)
    t.start()
    import time

    time.sleep(0.3)  # let the waiter park
    cli.send("quotes", {"sym": "C", "px": 3.0})
    t.join(timeout=10)
    assert not t.is_alive()
    assert got["rows"][0]["sym"] == "C"


def test_next_timeout_408(served):
    cli = GatewayClient(f"http://127.0.0.1:{served.port}")
    with pytest.raises(urllib.error.HTTPError) as ei:
        cli.next("quotes", timeout=0.2)
    assert ei.value.code == 408
    body = json.loads(ei.value.read())
    assert "no tick" in body["detail"]
