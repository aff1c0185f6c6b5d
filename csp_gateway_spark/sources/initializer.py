"""Static initializer + mirror modules.

- S10 Initialize (`modules/initializer.py:14-63`): tick configured
  constant values into channels at startup (+offset seconds), optional
  unroll of a list into multiple ticks.
- P6 Mirror (`modules/mirror.py:10-52`): copy ticks between channels
  (optionally wiring state on the target).
"""

from __future__ import annotations

import datetime
from typing import Any, Dict, List, Optional

from pydantic import BaseModel, ConfigDict
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog, GatewayModule


class Initialize(GatewayModule):
    """Seed rows appended to a channel at build time (t0 + offset)."""

    model_config = ConfigDict(arbitrary_types_allowed=True)

    channel: str
    values: List[Dict[str, Any]] = []
    offset_seconds: float = 0.0
    schema_struct: Optional[T.StructType] = None
    unroll: bool = True  # list payloads become N ticks (csp.unroll)

    def connect(self, channels: ChannelCatalog) -> None:
        t0 = datetime.datetime.utcnow() + datetime.timedelta(seconds=self.offset_seconds)
        rows = []
        for value in self.values:
            if self.unroll and isinstance(value, list):
                rows.extend(dict(v, timestamp=t0) for v in value)
            else:
                rows.append(dict(value, timestamp=t0))
        channels.declare(self.channel, self.schema_struct)
        channels.send_rows(self.channel, rows, schema=self.schema_struct)


class Mirror(GatewayModule):
    """Copy ticks from ``source`` into ``target`` (and mirror state
    keying if requested)."""

    source: str
    target: str
    state_keyby: Optional[str] = None

    def connect(self, channels: ChannelCatalog) -> None:
        # live link (catalog.mirror): sends to source AFTER connect
        # still propagate — matching the reference's streaming wiring
        channels.mirror(self.source, self.target)
        if self.state_keyby:
            channels.declare_state(self.target, self.state_keyby)
