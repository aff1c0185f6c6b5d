"""A worked csp-gateway-spark example application.

Mirrors the reference's demo (`csp_gateway/server/demo/omnibus.py` —
"the webserver tests use this code internally"): declare channels,
wire modules (a simulated quote source, a derived spread channel, a
feedback edge), keyed state, validators, REST+WS serving with api-key
auth, perspective layout, and a client round trip.  Runnable:

    python examples/omnibus.py          # boots, serves, queries, exits

``tests/test_omnibus_demo.py`` drives the same entry points.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.client import GatewayClient
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer

QUOTE = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bid", T.DoubleType()),
        T.StructField("ask", T.DoubleType()),
    ]
)
SPREAD = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("spread", T.DoubleType()),
    ]
)

SYMBOLS = ("AAA", "BBB", "CCC")


def nonneg_spread(row: dict) -> dict:
    """Validator (reference demo's AfterValidator): reject crossed
    quotes at the send boundary (422 over REST)."""
    if row.get("ask", 0.0) < row.get("bid", 0.0):
        raise ValueError("crossed quote: ask < bid")
    return row


def build_catalog(spark) -> ChannelCatalog:
    """Channels + modules, the reference demo's graph shape."""
    cat = ChannelCatalog(spark)
    cat.declare("quotes", QUOTE, validator=nonneg_spread)
    cat.declare("spreads", SPREAD)
    cat.declare_state("quotes", "symbol")
    cat.declare_state("spreads", "symbol")
    return cat


def tick_quotes(cat: ChannelCatalog, rounds: int = 3) -> None:
    """Simulated source module: deterministic 'random walk' ticks, and
    a derived spread channel computed from each tick (the demo's
    ExampleModule → derived-channel pattern)."""
    for i in range(rounds):
        quotes = [
            {"symbol": s, "bid": 100.0 + i + k * 0.5, "ask": 100.2 + i + k * 0.5}
            for k, s in enumerate(SYMBOLS)
        ]
        echoed = cat.send("quotes", quotes)
        spreads = (
            echoed.select(
                "symbol", (F.col("ask") - F.col("bid")).alias("spread")
            )
        )
        cat.send_rows("spreads", [r.asDict() for r in spreads.collect()])


def serve(cat: ChannelCatalog, api_key: str = "demo-key") -> GatewayHttpServer:
    api = GatewayApi(cat, api_keys=[api_key])
    api.fields["venue"] = {"name": "DEMO", "tz": "UTC"}
    api.perspective_layout_save("main", {"detail": {"main": {"type": "tab-area"}}})
    return GatewayHttpServer(api).start()


def main() -> None:
    from csp_gateway_spark.session import get_spark

    spark = get_spark("omnibus-demo")
    cat = build_catalog(spark)
    tick_quotes(cat)
    srv = serve(cat)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        cli = GatewayClient(base, api_key="demo-key")
        print("channels:", cli.channels())
        print("state(quotes):", cli.state("quotes", symbol="AAA"))
        print("last(spreads):", cli.last("spreads"))
        print("heartbeat:", cli.heartbeat()["status"])
        ws = cli.stream(["quotes"])
        time.sleep(0.2)
        cli.send("quotes", {"symbol": "AAA", "bid": 105.0, "ask": 105.3})
        print("ws tick:", ws.recv_json()["data"]["symbol"])
        ws.close()
    finally:
        srv.stop()


if __name__ == "__main__":
    main()
