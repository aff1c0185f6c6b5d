"""Omnibus demo — the reference's `omnibus.py` example re-expressed
Spark-first (reference `csp_gateway/server/demo/omnibus.py`: a Gateway
wiring example struct channels, state, perspective views, REST+WS).

Run: python examples/omnibus_demo.py [--port 8000] [--seconds 10]

Wires a complete live gateway:
  - `example` channel (ExampleData-style struct) fed by a streaming
    rate-like initializer + REST sends;
  - `example_list` basket channel (keyed state on `name`);
  - `never_ticks` channel (declared, null-bound at finalize — the
    reference's null channel semantics);
  - keyed-last state, perspective view (group_by + aggregates), REST
    routes, WS /stream, heartbeat.

Then drives itself: sends ticks, reads /state, subscribes over WS, and
prints what a user would see.  Ctrl-C (or --seconds elapsing) shuts
down via POST /controls/shutdown.
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from csp_gateway_spark.catalog import ChannelCatalog, Gateway, GatewayModule  # noqa: E402
from csp_gateway_spark.client import GatewayClient  # noqa: E402
from csp_gateway_spark.operators.pivot import ViewConfig, perspective_view  # noqa: E402
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer  # noqa: E402
from csp_gateway_spark.session import get_spark  # noqa: E402

EXAMPLE = T.StructType(
    [
        T.StructField("x", T.LongType()),
        T.StructField("y", T.StringType()),
        T.StructField("data", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ]
)


class ExampleModule(GatewayModule):
    """Seeds the `example` channel (reference ExampleModule: a timer
    node ticking ExampleData)."""

    ticks: int = 20

    def connect(self, channels: ChannelCatalog) -> None:
        channels.declare("example", EXAMPLE)
        channels.declare_state("example", "x")
        rows = [
            {"x": i, "y": chr(65 + i % 3), "data": float(i) * 1.5, "name": f"n{i % 5}"}
            for i in range(self.ticks)
        ]
        channels.send_rows("example", rows)


class ExampleBasketModule(GatewayModule):
    def connect(self, channels: ChannelCatalog) -> None:
        channels.declare("example_list", EXAMPLE)
        channels.declare_state("example_list", "name")
        channels.send_rows(
            "example_list",
            [{"x": i, "y": "B", "data": i / 2.0, "name": f"key{i % 2}"} for i in range(6)],
        )


class NeverTicks(GatewayModule):
    def connect(self, channels: ChannelCatalog) -> None:
        channels.declare("never_ticks", EXAMPLE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    args = ap.parse_args()

    spark = get_spark("omnibus")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = Gateway(modules=[ExampleModule(), ExampleBasketModule(), NeverTicks()])
    catalog = gateway.build(spark)
    api = GatewayApi(catalog, heartbeat_interval=1.0)
    api.fields["demo"] = {"name": "omnibus", "started": time.time()}
    server = GatewayHttpServer(api, port=args.port).start()
    base = f"http://127.0.0.1:{server.port}"
    print(f"gateway up at {base}  (channels: {api.channels()})")

    cli = GatewayClient(base)
    print("state head:", cli.state("example")[:2])

    # perspective view over the example channel (reference demo's
    # server-side view: group_by + aggregates)
    view = perspective_view(
        catalog.get_channel("example"),
        ViewConfig(group_by=["y"], aggregates={"data": "avg", "x": "max"}),
    )
    print("perspective view (avg data, max x by y):")
    for row in view.collect():
        print("   ", row.asDict())

    ws = cli.stream(["example", "heartbeat"])
    cli.send("example", {"x": 99, "y": "Z", "data": 9.9, "name": "sent"})
    deadline = time.time() + args.seconds
    seen = 0
    for msg in ws.messages():
        print("ws:", str(msg)[:100])
        seen += 1
        if seen >= 3 or time.time() > deadline:
            break
    ws.close()

    print("lookup:", cli.lookup("example", cli.last("example")[0]["id"])[0]["x"])
    print("shutting down:", cli._post("/api/v1/controls/shutdown", {}))
    gateway.shutdown()


if __name__ == "__main__":
    main()
