"""nanomsg input/output — dependency-free implementation of the SP
protocol's TCP mapping (the published nanomsg RFCs: sp-tcp-mapping —
8-octet handshake `\\x00SP\\x00` + 16-bit protocol number + reserved,
then 64-bit-BE size-prefixed messages; sp-protocol numbers: PAIR=16,
PUB=32/SUB=33, REQ=48/REP=49, PUSH=80/PULL=81), plus in-process peers
for e2e tests.

Reference: internal/impl/nanomsg/input.go (urls, bind, socket_type
PULL|SUB, sub_filters — at least one filter REQUIRED for SUB, '' means
everything) and output.go (PUSH|PUB). The reference uses go mangos; the
protocol is implemented from the published spec, so the connector is
REAL and e2e-testable in-process instead of availability-gated.

nanomsg semantics vs ZeroMQ (both implemented here, they differ!):
- SUB filtering is CLIENT-side prefix matching — subscriptions never
  travel to the publisher; PUB fans out everything to every peer
  (sp-pubsub RFC). A sparse subscriber still receives full traffic.
- PUSH round-robins across PULL peers, PULL fair-queues (sp-pipeline).
- Peer validation: the handshake's protocol number must be the
  counterpart (e.g. PUSH accepts only PULL) or the connection drops.

Spark-first mapping mirrors streaming/zeromq.py: spool-bridge input
(at-most-once once delivered — no acks in the protocol), foreachBatch
PUSH/PUB output with JVM-side serialization.
"""

from __future__ import annotations

import functools
import socket
import struct
import threading

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader

_PROTO = {"PAIR": 16, "PUB": 32, "SUB": 33, "REQ": 48, "REP": 49,
          "PUSH": 80, "PULL": 81}
_PEER_OF = {"PAIR": "PAIR", "PUB": "SUB", "SUB": "PUB",
            "REQ": "REP", "REP": "REQ", "PUSH": "PULL", "PULL": "PUSH"}


class NanomsgConnection:
    """One SP-over-TCP connection: handshake + size-prefixed messages."""

    def __init__(self, sock: socket.socket, socket_type: str):
        self.sock = sock
        self.reader = SocketReader(self.sock, "nanomsg")
        self.sock.sendall(b"\x00SP\x00" + struct.pack(">HH", _PROTO[socket_type], 0))
        hdr = self.reader.exact(8)
        if hdr[:4] != b"\x00SP\x00":
            raise ConnectionError("nanomsg: bad handshake header")
        peer_proto = struct.unpack(">H", hdr[4:6])[0]
        want = _PROTO[_PEER_OF[socket_type]]
        if peer_proto != want:
            raise ConnectionError(
                f"nanomsg: incompatible peer protocol {peer_proto} for "
                f"{socket_type} (want {want})")

    def send_msg(self, payload: bytes) -> None:
        self.sock.sendall(struct.pack(">Q", len(payload)) + payload)

    def recv_msg(self) -> bytes:
        n = struct.unpack(">Q", self.reader.exact(8))[0]
        return self.reader.exact(n)

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_nanomsg_url(url: str) -> tuple[str, int]:
    hp = str(url).removeprefix("tcp://")
    host, _, port = hp.partition(":")
    if host == "*":  # the reference's wildcard-bind form (input.go:93)
        host = "0.0.0.0"
    return host or "127.0.0.1", int(port)


class NanomsgSocket:
    """Minimal PUSH/PULL/PUB/SUB socket. One bind endpoint (many peers)
    or many connect endpoints — the reference's `bind` flag. SUB filters
    apply locally (sp-pubsub: subscriptions never reach the publisher)."""

    def __init__(self, socket_type: str, sub_filters: list[bytes] | None = None):
        if socket_type not in ("PUSH", "PULL", "PUB", "SUB"):
            raise ValueError(f"nanomsg: unsupported socket_type {socket_type!r}")
        self.socket_type = socket_type
        self.sub_filters = list(sub_filters or [])
        self._peers: list[NanomsgConnection] = []
        self._inbox: list[bytes] = []
        self._lock = threading.Lock()
        self._ready = threading.Condition(self._lock)
        self._rr = 0
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self.port: int | None = None

    def bind(self, host: str = "127.0.0.1", port: int = 0) -> "NanomsgSocket":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((host, port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def connect(self, host: str, port: int) -> "NanomsgSocket":
        conn = NanomsgConnection(
            socket.create_connection((host, port), timeout=10), self.socket_type)
        self._attach(conn)
        return self

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                raw, _ = self._server.accept()
            except OSError:
                return
            try:
                conn = NanomsgConnection(raw, self.socket_type)
            except ConnectionError:
                try:
                    raw.close()
                except OSError:
                    pass
                continue
            self._attach(conn)

    def _attach(self, conn: NanomsgConnection) -> None:
        with self._lock:
            self._peers.append(conn)
        if self.socket_type in ("PULL", "SUB"):
            t = threading.Thread(target=self._recv_loop, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _recv_loop(self, conn: NanomsgConnection) -> None:
        while not self._stop.is_set():
            try:
                msg = conn.recv_msg()
            except (ConnectionError, OSError):
                with self._lock:
                    if conn in self._peers:
                        self._peers.remove(conn)
                return
            if self.socket_type == "SUB" and self.sub_filters:
                # client-side prefix filter (sp-pubsub); '' matches all
                if not any(msg.startswith(f) for f in self.sub_filters):
                    continue
            with self._lock:
                self._inbox.append(msg)
                self._ready.notify()

    def wait_for_peer(self, timeout: float = 1.0) -> bool:
        """Bounded wait until at least one peer is attached — the
        slow-joiner mitigation for PUB senders (a fresh-per-batch PUB
        would otherwise fan out to nobody and silently drop the batch)."""
        import time as _time

        deadline = _time.monotonic() + timeout
        while True:
            with self._lock:
                if self._peers:
                    return True
            if _time.monotonic() >= deadline or self._stop.wait(0.02):
                return False

    def send(self, payload: bytes) -> None:
        if self.socket_type == "PUSH":
            while True:
                with self._lock:
                    if self._peers:
                        conn = self._peers[self._rr % len(self._peers)]
                        self._rr += 1
                        break
                if self._stop.wait(0.02):
                    raise ConnectionError("nanomsg: socket closed")
            conn.send_msg(payload)
        elif self.socket_type == "PUB":
            with self._lock:
                peers = list(self._peers)
            for c in peers:  # everything fans out; SUBs filter locally
                try:
                    c.send_msg(payload)
                except (ConnectionError, OSError):
                    pass
        else:
            raise ValueError(f"nanomsg: {self.socket_type} cannot send")

    def recv(self, timeout: float | None = None) -> bytes | None:
        with self._lock:
            if not self._inbox:
                self._ready.wait(timeout)
            if not self._inbox:
                return None
            return self._inbox.pop(0)

    def close(self) -> None:
        self._stop.set()
        if self._server is not None:
            # shutdown wakes the blocked accept(); close alone leaves the
            # port listening until the next connection arrives
            try:
                self._server.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                self._server.close()
            except OSError:
                pass
        with self._lock:
            for c in self._peers:
                c.close()
            self._peers.clear()
            self._ready.notify_all()
        for t in self._threads:
            t.join(timeout=2)


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def nanomsg_bridge(socket_type: str, spool_dir: str, urls: list[str] = (),
                   bind: bool = False, sub_filters: list[str] | None = None) -> Bridge:
    """`nanomsg` input (input.go): PULL or SUB per `socket_type`; SUB
    REQUIRES at least one sub_filter ('' = everything, input.go:109).
    Each message spools as one durable file (at-most-once once delivered,
    the mangos contract: no acks in the protocol). In bind mode the
    bridge's `port` is the bound port."""
    if socket_type not in ("PULL", "SUB"):
        raise ValueError("nanomsg input socket_type must be PULL or SUB")
    if socket_type == "SUB" and not sub_filters:
        raise ValueError(
            "must provide at least one sub filter when connecting with a "
            "SUB socket, in order to subscribe to all messages add an "
            "empty string")  # input.go:109 verbatim contract

    def connect() -> NanomsgSocket:
        sock = NanomsgSocket(socket_type, [f.encode("utf-8") for f in (sub_filters or [])])
        if bind:
            sock.bind(*parse_nanomsg_url(urls[0]))
        else:
            for u in urls:
                sock.connect(*parse_nanomsg_url(u))
        return sock

    def messages(sock: NanomsgSocket, stop):
        while not stop.is_set():
            msg = sock.recv(timeout=0.2)
            if msg is not None:
                yield msg, {}, None

    return Bridge("nanomsg", spool_dir, connect, messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def _open_socket(socket_type: str, urls: list[str], bind: bool) -> NanomsgSocket:
    sock = NanomsgSocket(socket_type)
    try:
        if bind:
            sock.bind(*parse_nanomsg_url(urls[0]))
        else:
            for u in urls:
                sock.connect(*parse_nanomsg_url(u))
    except BaseException:
        sock.close()
        raise
    return sock


def nanomsg_sink(urls: list[str], socket_type: str = "PUSH", bind: bool = False):
    """`nanomsg` output (output.go: PUSH|PUB): rows serialize JVM-side;
    PUSH round-robins across PULL peers, PUB fans out (SUBs filter on the
    payload prefix, so a topic convention is just a payload prefix). Bind
    mode coalesces to one partition (a single bind endpoint)."""
    from bento_spark.streaming.sink import json_body, write_partitions

    def send(sock, rows) -> None:
        if socket_type == "PUB":
            sock.wait_for_peer()  # slow-joiner mitigation
        for row in rows:
            sock.send(row.v.encode("utf-8"))

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(json_body(batch_df).alias("v"))
        if bind:
            payloads = payloads.coalesce(1)
        write_partitions(payloads, functools.partial(_open_socket, socket_type, urls, bind),
                         send)

    return write_batch
