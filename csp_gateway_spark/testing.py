"""Test harness (reference `csp_gateway/testing/harness.py:31-200`):
a GatewayModule that injects timed rows into channels and asserts on
the resulting ticks — here, one injection round ≙ one engine cycle
(micro-batch), matching the engine-cycle model throughout.

Assertions mirror the reference helpers: tick counts, attribute
equality on the latest tick, value equality with numpy-friendly
comparison, plus state snapshots.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

from csp_gateway_spark.catalog import ChannelCatalog, GatewayModule


class GatewayTestHarness(GatewayModule):
    """Inject → cycle → assert.

    Usage::

        h = GatewayTestHarness(channels=["example"])
        gw = Gateway(modules=[h, MyModule()])
        cat = gw.build(spark)
        h.send(cat, "example", [{"x": 1}])          # cycle 1
        h.assert_ticked(cat, "example", count=1)
        h.assert_attr_equal(cat, "example", "x", 1)
    """

    channels: List[str] = []

    def connect(self, channels: ChannelCatalog) -> None:
        for name in self.channels:
            channels.declare(name)
        self._cycles: Dict[str, int] = {}
        self._injected: Dict[str, int] = {}

    # --- injection ---------------------------------------------------
    def send(self, catalog: ChannelCatalog, channel: str, rows: List[dict]) -> List[dict]:
        """Inject rows as one engine cycle; returns the echoed rows
        (with assigned id/timestamp)."""
        echoed = [r.asDict() for r in catalog.send_rows(channel, rows)]
        self._cycles[channel] = self._cycles.get(channel, 0) + 1
        self._injected[channel] = self._injected.get(channel, 0) + len(rows)
        return echoed

    # --- assertions --------------------------------------------------
    def assert_ticked(self, catalog: ChannelCatalog, channel: str, count: Optional[int] = None) -> None:
        n = catalog.get_channel(channel).count()
        if count is None:
            assert n > 0, f"channel {channel!r} never ticked"
        else:
            assert n == count, f"channel {channel!r}: expected {count} ticks, saw {n}"

    def assert_attr_equal(self, catalog: ChannelCatalog, channel: str, attr: str, expected: Any) -> None:
        rows = catalog.last(channel).collect()
        assert rows, f"channel {channel!r} has no last tick"
        got = rows[-1][attr]
        assert _eq(got, expected), f"{channel}.{attr}: expected {expected!r}, got {got!r}"

    def assert_state(self, catalog: ChannelCatalog, channel: str, expected: Sequence[dict]) -> None:
        """Keyed-state snapshot equality (order = key ASC NULLS FIRST)."""
        got = [
            {k: r[k] for k in expected[0]} if expected else r.asDict()
            for r in catalog.state(channel).collect()
        ]
        assert got == list(expected), f"state {channel!r}: expected {expected}, got {got}"

    def cycles(self, channel: str) -> int:
        return self._cycles.get(channel, 0)


def _eq(a: Any, b: Any) -> bool:
    try:
        import numpy as np

        if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
            return bool(np.allclose(np.asarray(a, dtype=float), np.asarray(b, dtype=float)))
    except Exception:  # noqa: BLE001 — non-numeric sequences
        pass
    return a == b
