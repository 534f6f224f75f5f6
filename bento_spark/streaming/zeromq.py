"""ZeroMQ input/output — dependency-free implementation of ZMTP 3.0, the
public ZeroMQ wire protocol (rfc.zeromq.org/spec/23: 64-octet greeting,
NULL security mechanism, READY metadata handshake with Socket-Type
validation, MORE/LONG/COMMAND frame flags; SUB subscriptions as
\\x01/\\x00-prefixed messages), plus in-process peers for e2e tests.

Reference: internal/impl/zeromq/input_zmq4.go (urls, bind, socket_type
PULL|SUB, sub_filters) and output_zmq4.go (socket_type PUSH|PUB). The
reference uses go-zmq4 — itself a pure-Go ZMTP implementation, no
libzmq — and this module plays the same role for Python: the protocol is
implemented from the published spec, so the connector is REAL and
e2e-testable in-process instead of availability-gated.

Socket semantics implemented (spec §"The Socket Layer"):
- PUSH round-robins messages across connected PULL peers; PULL
  fair-queues from all peers.
- PUB prefix-matches each peer's subscription set and fans out; SUB
  sends subscribe frames after the handshake and filters server-side
  (like real PUB sockets — a message no peer subscribes to is dropped at
  the PUB side, never transferred).
- Incompatible Socket-Type pairs fail the connection at handshake
  (§"Error Handling": e.g. a PUSH peer on a PUB endpoint).

Spark-first mapping (same spool-bridge rationale as every push source):
- input  -> zmq_bridge (PULL or SUB per the reference enum) spools each
  message as one durable file BEFORE polling the next (ZeroMQ transports
  are at-most-once once delivered to the application — nothing to ack,
  matching zmq4's contract).
- output -> foreachBatch PUSH/PUB: rows serialize JVM-side (to_json);
  PUB's per-row topic frame arrives as a pre-computed COLUMN.
"""

from __future__ import annotations

import functools
import socket
import struct
import threading

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader

_GREETING_SIG = b"\xff" + b"\x00" * 8 + b"\x7f"
_FLAG_MORE, _FLAG_LONG, _FLAG_COMMAND = 0x01, 0x02, 0x04

_COMPATIBLE = {
    "PUSH": {"PULL"}, "PULL": {"PUSH"},
    "PUB": {"SUB", "XSUB"}, "SUB": {"PUB", "XPUB"},
}


class ZmtpConnection:
    """One ZMTP 3.0 connection over a TCP socket: greeting, NULL-mechanism
    READY handshake, message/command framing."""

    def __init__(self, sock: socket.socket, socket_type: str):
        self.sock = sock
        self.socket_type = socket_type
        self.peer_type: str | None = None
        self.reader = SocketReader(self.sock, "zmq")
        self._handshake()

    def _handshake(self) -> None:
        # greeting: signature + version 3.0 + mechanism NULL + as-server + filler
        greeting = (
            _GREETING_SIG + bytes([3, 0])
            + b"NULL" + b"\x00" * 16 + b"\x00" + b"\x00" * 31
        )
        self.sock.sendall(greeting)
        got = self.reader.exact(64)
        if got[0] != 0xFF or got[9] != 0x7F:
            raise ConnectionError("zmq: bad greeting signature")
        if got[10] < 3:
            raise ConnectionError(f"zmq: unsupported ZMTP version {got[10]}")
        mech = got[12:32].rstrip(b"\x00")
        if mech != b"NULL":
            raise ConnectionError(f"zmq: unsupported mechanism {mech!r}")
        # NULL handshake: both sides send READY with Socket-Type metadata
        meta = b"\x0bSocket-Type" + struct.pack(">I", len(self.socket_type)) \
            + self.socket_type.encode("ascii")
        self._send_frame(_FLAG_COMMAND, b"\x05READY" + meta)
        name, data = self._recv_command()
        if name != b"READY":
            raise ConnectionError(f"zmq: expected READY, got {name!r}")
        props = {}
        pos = 0
        while pos < len(data):
            nlen = data[pos]
            pname = data[pos + 1 : pos + 1 + nlen].decode("ascii")
            pos += 1 + nlen
            vlen = struct.unpack(">I", data[pos : pos + 4])[0]
            props[pname.lower()] = data[pos + 4 : pos + 4 + vlen]
            pos += 4 + vlen
        self.peer_type = props.get("socket-type", b"").decode("ascii")
        if self.peer_type not in _COMPATIBLE.get(self.socket_type, set()):
            raise ConnectionError(
                f"zmq: incompatible peer Socket-Type {self.peer_type!r} "
                f"for {self.socket_type}")

    def _send_frame(self, flags: int, body: bytes) -> None:
        if len(body) > 255:
            self.sock.sendall(bytes([flags | _FLAG_LONG])
                              + struct.pack(">Q", len(body)) + body)
        else:
            self.sock.sendall(bytes([flags, len(body)]) + body)

    def _recv_frame(self) -> tuple[int, bytes]:
        flags = self.reader.exact(1)[0]
        if flags & _FLAG_LONG:
            size = struct.unpack(">Q", self.reader.exact(8))[0]
        else:
            size = self.reader.exact(1)[0]
        return flags, self.reader.exact(size)

    def _recv_command(self) -> tuple[bytes, bytes]:
        flags, body = self._recv_frame()
        if not flags & _FLAG_COMMAND:
            raise ConnectionError("zmq: expected command frame")
        nlen = body[0]
        return body[1 : 1 + nlen], body[1 + nlen :]

    def send_msg(self, frames: list[bytes]) -> None:
        for i, f in enumerate(frames):
            self._send_frame(_FLAG_MORE if i < len(frames) - 1 else 0, f)

    def recv_msg(self) -> list[bytes]:
        """Blocking read of one complete (possibly multi-frame) message;
        command frames (3.1 PING etc.) are answered/ignored inline."""
        frames: list[bytes] = []
        while True:
            flags, body = self._recv_frame()
            if flags & _FLAG_COMMAND:
                nlen = body[0]
                if body[1 : 1 + nlen] == b"PING":
                    self._send_frame(_FLAG_COMMAND, b"\x04PONG" + body[1 + nlen + 2 :])
                continue
            frames.append(body)
            if not flags & _FLAG_MORE:
                return frames

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_zmq_url(url: str) -> tuple[str, int]:
    hp = str(url).removeprefix("tcp://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port)


class ZmqSocket:
    """A minimal PUSH/PULL/PUB/SUB socket over ZMTP connections. Supports
    one bind endpoint (accepting many peers) or many connect endpoints —
    the reference input's `bind` flag."""

    def __init__(self, socket_type: str, sub_filters: list[bytes] | None = None):
        if socket_type not in _COMPATIBLE:
            raise ValueError(f"zmq: unsupported socket_type {socket_type!r}")
        self.socket_type = socket_type
        self.sub_filters = list(sub_filters or [b""])  # empty = everything
        self._peers: list[ZmtpConnection] = []
        self._subs: dict[ZmtpConnection, list[bytes]] = {}
        self._inbox: list[list[bytes]] = []
        self._lock = threading.Lock()
        self._ready = threading.Condition(self._lock)
        self._rr = 0
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self.port: int | None = None

    # -- topology ------------------------------------------------------------

    def bind(self, host: str = "127.0.0.1", port: int = 0) -> "ZmqSocket":
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

    def connect(self, host: str, port: int) -> "ZmqSocket":
        conn = ZmtpConnection(socket.create_connection((host, port), timeout=10),
                              self.socket_type)
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
                conn = ZmtpConnection(raw, self.socket_type)
            except ConnectionError:
                try:
                    raw.close()
                except OSError:
                    pass
                continue
            self._attach(conn)

    def _attach(self, conn: ZmtpConnection) -> None:
        with self._lock:
            self._peers.append(conn)
            self._subs[conn] = []
        if self.socket_type == "SUB":
            # subscriptions travel as \x01-prefixed messages (spec 23 —
            # ZMTP 3.0 SUB; 3.1's SUBSCRIBE command is the newer form)
            for f in self.sub_filters:
                conn.send_msg([b"\x01" + f])
        if self.socket_type in ("PULL", "SUB", "PUB"):
            # PUB also reads: subscription updates arrive from SUB peers
            t = threading.Thread(target=self._recv_loop, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _recv_loop(self, conn: ZmtpConnection) -> None:
        while not self._stop.is_set():
            try:
                frames = conn.recv_msg()
            except (ConnectionError, OSError):
                with self._lock:
                    if conn in self._peers:
                        self._peers.remove(conn)
                    self._subs.pop(conn, None)
                return
            if self.socket_type == "PUB":
                if frames and frames[0][:1] == b"\x01":
                    with self._lock:
                        self._subs[conn].append(frames[0][1:])
                elif frames and frames[0][:1] == b"\x00":
                    with self._lock:
                        try:
                            self._subs[conn].remove(frames[0][1:])
                        except ValueError:
                            pass
                continue
            with self._lock:
                self._inbox.append(frames)
                self._ready.notify()

    # -- traffic ------------------------------------------------------------

    def wait_for_subscription(self, timeout: float = 1.0) -> bool:
        """Bounded wait until at least one peer has subscribed — the
        slow-joiner mitigation for PUB senders (a real PUB drops messages
        sent before the subscription frame lands; a fresh-per-batch
        producer would otherwise lose the batch head every time)."""
        deadline = None
        while True:
            with self._lock:
                if any(self._subs.values()):
                    return True
            import time as _time

            if deadline is None:
                deadline = _time.monotonic() + timeout
            if _time.monotonic() >= deadline or self._stop.wait(0.02):
                return False

    def send(self, frames: list[bytes]) -> None:
        if self.socket_type == "PUSH":
            # round-robin over peers; block until one exists
            while True:
                with self._lock:
                    if self._peers:
                        conn = self._peers[self._rr % len(self._peers)]
                        self._rr += 1
                        break
                if self._stop.wait(0.02):
                    raise ConnectionError("zmq: socket closed")
            conn.send_msg(frames)
        elif self.socket_type == "PUB":
            with self._lock:
                targets = [
                    c for c, subs in self._subs.items()
                    if any(frames[0].startswith(s) for s in subs)
                ]
            for c in targets:  # no subscriber -> dropped at the PUB side
                try:
                    c.send_msg(frames)
                except (ConnectionError, OSError):
                    pass
        else:
            raise ValueError(f"zmq: {self.socket_type} cannot send")

    def recv(self, timeout: float | None = None) -> list[bytes] | None:
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


def zmq_bridge(socket_type: str, spool_dir: str, urls: list[str] = (),
               bind: bool = False, sub_filters: list[str] = ()) -> Bridge:
    """`zmq4` input (input_zmq4.go): PULL or SUB per `socket_type`,
    `bind` or connect per the flag, `sub_filters` applied at subscribe
    time; each message spools as one durable file (at-most-once once
    delivered, the zmq4 contract: there are no acks in the protocol). In
    bind mode the bridge's `port` is the bound port."""
    if socket_type not in ("PULL", "SUB"):
        raise ValueError("zmq input socket_type must be PULL or SUB")

    def connect() -> ZmqSocket:
        sock = ZmqSocket(socket_type, [f.encode("utf-8") for f in sub_filters])
        if bind:
            sock.bind(*parse_zmq_url(urls[0]))
        else:
            for u in urls:
                sock.connect(*parse_zmq_url(u))
        return sock

    def messages(sock: ZmqSocket, stop):
        while not stop.is_set():
            frames = sock.recv(timeout=0.2)
            if frames is not None:
                # multi-frame messages concatenate like the reference's
                # part-per-frame batch collapsed to one payload
                yield b"".join(frames), {}, None

    return Bridge("zmq4", spool_dir, connect, messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def _open_socket(socket_type: str, urls: list[str], bind: bool) -> ZmqSocket:
    sock = ZmqSocket(socket_type)
    try:
        if bind:
            sock.bind(*parse_zmq_url(urls[0]))
        else:
            for u in urls:
                sock.connect(*parse_zmq_url(u))
    except BaseException:
        sock.close()
        raise
    return sock


def zmq_sink(urls: list[str], socket_type: str = "PUSH", bind: bool = False,
             topic_col: str | None = None):
    """`zmq4` output (output_zmq4.go): rows serialize JVM-side; PUSH
    round-robins across PULL peers, PUB sends [topic, payload] with the
    per-row topic as a pre-computed COLUMN. Bind mode runs the batch
    through a single partition (one bind endpoint total)."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(sock, rows) -> None:
        if socket_type == "PUB":
            sock.wait_for_subscription()
        for row in rows:
            body = row.v.encode("utf-8")
            sock.send([row.t.encode("utf-8"), body] if socket_type == "PUB" else [body])

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            (F.col(topic_col) if topic_col else F.lit("")).alias("t"),
            json_body(batch_df, topic_col).alias("v"))
        if bind:
            payloads = payloads.coalesce(1)
        write_partitions(payloads, functools.partial(_open_socket, socket_type, urls, bind),
                         send)

    return write_batch
