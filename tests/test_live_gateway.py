"""End-to-end live gateway: file-drop stream → engine cycle → REST/WS.

The reference's full loop (SURVEY §3.3: POST/adapter tick → channels →
state + /last + WS fan-out) driven over real sockets: a Structured
Streaming file source feeds `stream_into_gateway`; HTTP + WS clients
observe the ticks.
"""

import threading
import time

import pytest
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.client import GatewayClient
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer, stream_into_gateway

SCHEMA = "sym string, px double"


@pytest.fixture()
def live(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    cat = ChannelCatalog(spark)
    cat.declare(
        "quotes",
        T.StructType([T.StructField("sym", T.StringType()), T.StructField("px", T.DoubleType())]),
    )
    cat.declare_state("quotes", "sym")
    api = GatewayApi(cat)
    srv = GatewayHttpServer(api).start()
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = stream_into_gateway(api, "quotes", stream, checkpoint=str(tmp_path / "ckpt"))
    yield srv, q, src
    q.stop()
    srv.stop()


def test_filedrop_tick_reaches_rest_ws_and_next(live):
    srv, q, src = live
    base = f"http://127.0.0.1:{srv.port}"
    cli = GatewayClient(base)

    ws = cli.stream(["quotes"])
    time.sleep(0.2)
    got = {}
    waiter = threading.Thread(target=lambda: got.update(rows=cli.next("quotes", timeout=20)))
    waiter.start()
    time.sleep(0.2)

    (src / "t1.json").write_text('{"sym":"A","px":1.5}\n{"sym":"B","px":2.5}\n')
    q.processAllAvailable()

    # WS subscriber got both rows of the micro-batch
    seen = {ws.recv_json()["data"]["sym"], ws.recv_json()["data"]["sym"]}
    assert seen == {"A", "B"}
    # /next released by the streamed engine cycle
    waiter.join(20)
    assert {r["sym"] for r in got["rows"]} == {"A", "B"}
    # catalog state reflects the ticks; ids/timestamps were stamped
    state = cli.state("quotes")
    assert {r["sym"]: r["px"] for r in state} == {"A": 1.5, "B": 2.5}
    assert all(r["id"] and r["timestamp"] for r in state)

    # second drop upserts A — keyed-last semantics through the gateway
    (src / "t2.json").write_text('{"sym":"A","px":9.0}\n')
    q.processAllAvailable()
    assert {r["sym"]: r["px"] for r in cli.state("quotes")} == {"A": 9.0, "B": 2.5}
    ws.close()


def test_restart_sends_each_micro_batch_once(spark, tmp_path, monkeypatch):
    """A micro-batch whose rows were stored before its query failed is
    not sent again when the query restarts on the same checkpoint."""
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "drop"
    src.mkdir()
    cat = ChannelCatalog(spark)
    cat.declare("quotes", T.StructType([T.StructField("sym", T.StringType()), T.StructField("px", T.DoubleType())]))
    api = GatewayApi(cat)
    send, raised = api.send, []

    def store_then_raise(channel, rows):
        out = send(channel, rows)
        if not raised:
            raised.append(len(rows))
            raise RuntimeError("failed after the rows were stored")
        return out

    monkeypatch.setattr(api, "send", store_then_raise)
    ckpt = str(tmp_path / "ckpt")
    (src / "t1.json").write_text('{"sym":"A","px":1.0}\n{"sym":"B","px":2.0}\n')
    q = stream_into_gateway(api, "quotes", spark.readStream.schema(SCHEMA).json(str(src)), 0.1, ckpt)
    try:
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(60)
    finally:
        q.stop()
    q = stream_into_gateway(api, "quotes", spark.readStream.schema(SCHEMA).json(str(src)), 0.1, ckpt)
    try:
        q.processAllAvailable()
        (src / "t2.json").write_text('{"sym":"C","px":3.0}\n')
        q.processAllAvailable()
    finally:
        q.stop()
    assert raised == [2]
    assert sorted(r.sym for r in cat.get_channel("quotes").collect()) == ["A", "B", "C"]
