"""Minimal RFC 6455 WebSocket codec + client (stdlib only).

The reference serves `WS /api/v1/stream` with a JSON message protocol
(`modules/web/websocket.py:250-344`, docs/wiki/API.md:81-206):

  client → {"action": "subscribe",   "channel": c[, "key": k]}
           {"action": "unsubscribe", "channel": c[, "key": k]}
           {"action": "send",        "channel": c, "data": {...}}
  server → {"channel": c, "data": row}   one message per tick row
           heartbeat channel ticks every interval while connected

The package depends on no web framework or websocket library, so the
frame codec is implemented directly: server frames unmasked, client frames
masked, close/ping handled.  The same codec backs the test client and
`GatewayClient.stream()`.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import struct
from typing import Any, Iterator, Optional, Tuple
from urllib.parse import urlparse

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_TEXT = 0x1
OP_CLOSE = 0x8
OP_PING = 0x9
OP_PONG = 0xA


def accept_key(client_key: str) -> str:
    digest = hashlib.sha1((client_key + _GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def read_frame(rfile) -> Tuple[int, bytes]:
    """Read one frame → (opcode, payload).  Raises ConnectionError on EOF."""
    head = rfile.read(2)
    if len(head) < 2:
        raise ConnectionError("websocket closed")
    b1, b2 = head
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    length = b2 & 0x7F
    if length == 126:
        length = struct.unpack(">H", rfile.read(2))[0]
    elif length == 127:
        length = struct.unpack(">Q", rfile.read(8))[0]
    mask = rfile.read(4) if masked else b""
    payload = rfile.read(length)
    if masked:
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    return opcode, payload


def write_frame(wfile, payload: bytes, opcode: int = OP_TEXT, mask: bool = False) -> None:
    b1 = 0x80 | opcode  # FIN + opcode
    length = len(payload)
    if length < 126:
        head = struct.pack(">BB", b1, (0x80 if mask else 0) | length)
    elif length < 1 << 16:
        head = struct.pack(">BBH", b1, (0x80 if mask else 0) | 126, length)
    else:
        head = struct.pack(">BBQ", b1, (0x80 if mask else 0) | 127, length)
    if mask:
        key = os.urandom(4)
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
        wfile.write(head + key + payload)
    else:
        wfile.write(head + payload)
    wfile.flush()


class WebSocketClient:
    """Blocking stdlib client for `ws://host:port/path` (client frames
    masked per RFC 6455 §5.3; text-only protocol)."""

    def __init__(self, url: str, timeout: float = 30.0):
        u = urlparse(url)
        self._sock = socket.create_connection((u.hostname, u.port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        self._wfile = self._sock.makefile("wb")
        key = base64.b64encode(os.urandom(16)).decode()
        path = u.path or "/"
        if u.query:
            path += "?" + u.query
        self._wfile.write(
            (
                f"GET {path} HTTP/1.1\r\n"
                f"Host: {u.hostname}:{u.port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self._wfile.flush()
        status = self._rfile.readline()
        if b"101" not in status:
            raise ConnectionError(f"handshake rejected: {status!r}")
        while self._rfile.readline() not in (b"\r\n", b""):
            pass  # drain response headers

    def send_json(self, obj: Any) -> None:
        write_frame(self._wfile, json.dumps(obj).encode(), mask=True)

    def recv_json(self) -> Any:
        while True:
            opcode, payload = read_frame(self._rfile)
            if opcode == OP_TEXT:
                return json.loads(payload)
            if opcode == OP_PING:
                write_frame(self._wfile, payload, OP_PONG, mask=True)
            elif opcode == OP_CLOSE:
                raise ConnectionError("server closed")

    def messages(self) -> Iterator[Any]:
        while True:
            try:
                yield self.recv_json()
            except (ConnectionError, OSError):
                return

    def close(self) -> None:
        try:
            write_frame(self._wfile, b"", OP_CLOSE, mask=True)
        except OSError:
            pass
        self._sock.close()
