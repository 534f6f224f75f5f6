"""MQTT input/output — dependency-free MQTT 3.1.1 (OASIS public spec)
client over stdlib sockets, plus an in-process test broker.

Reference: internal/impl/mqtt/input.go (urls, topics, qos, clean_session;
per-message `mqtt_topic`/`mqtt_qos`/`mqtt_retained` metadata) and
output.go (topic, qos, retained). The reference uses the paho client; no
MQTT wheel ships in this sandbox, so — like the RFC 6455 websocket input
(http_server.py) — the wire protocol is implemented from the published
spec, which makes the connector REAL and e2e-testable in-process instead
of availability-gated.

Spark-first mapping (same spool-bridge rationale as every push source):
- input  -> MqttSpooler subscribes and persists each PUBLISH payload as a
  durable spool file; the stream is the replayable file source, so offset
  log + exactly-once downstream hold (a raw MQTT socket could never be a
  replayable Spark source; QoS1 PUBACK is only sent AFTER the spool file
  is durably renamed — the broker redelivers anything unacked, giving
  at-least-once into the spool, dedupe-able downstream).
  The topic rides the spool file's header and surfaces as an
  `mqtt_topic` column, parsed JVM-side — no Python in the hot path.
- output -> foreachBatch publisher: one pooled connection per partition,
  rows publish as JSON (executor-side, never a driver loop); QoS1 waits
  for PUBACK per message. At-least-once across checkpoint replay, like
  the reference output.

Packet subset implemented (MQTT 3.1.1 §2-3): CONNECT/CONNACK,
PUBLISH (QoS 0/1, retain, dup), PUBACK, SUBSCRIBE/SUBACK,
PINGREQ/PINGRESP, DISCONNECT; remaining-length varints; UTF-8 length-
prefixed strings; topic filters with `+`/`#` wildcards (broker side).
"""

from __future__ import annotations

import socket
import struct
import threading
import uuid
from dataclasses import dataclass, field

from bento_spark.streaming.spool import Spool

CONNECT, CONNACK, PUBLISH, PUBACK = 1, 2, 3, 4
SUBSCRIBE, SUBACK, UNSUBSCRIBE, UNSUBACK = 8, 9, 10, 11
PINGREQ, PINGRESP, DISCONNECT = 12, 13, 14


# --------------------------------------------------------------------------
# wire helpers
# --------------------------------------------------------------------------


def encode_remaining_len(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n % 128
        n //= 128
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def encode_packet(ptype: int, flags: int, body: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + encode_remaining_len(len(body)) + body


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("mqtt: connection closed mid-packet")
        buf += chunk
    return bytes(buf)


def read_packet(sock: socket.socket) -> tuple[int, int, bytes]:
    """-> (type, flags, body). Raises ConnectionError on EOF."""
    first = sock.recv(1)
    if not first:
        raise ConnectionError("mqtt: connection closed")
    ptype, flags = first[0] >> 4, first[0] & 0x0F
    mult, n = 1, 0
    for _ in range(4):
        b = _read_exact(sock, 1)[0]
        n += (b & 0x7F) * mult
        if not b & 0x80:
            break
        mult *= 128
    else:
        raise ValueError("mqtt: malformed remaining length")
    return ptype, flags, _read_exact(sock, n) if n else b""


def topic_matches(filt: str, topic: str) -> bool:
    """MQTT 3.1.1 §4.7 topic filter matching (`+` one level, `#` tail)."""
    fparts, tparts = filt.split("/"), topic.split("/")
    for i, fp in enumerate(fparts):
        if fp == "#":
            return True
        if i >= len(tparts):
            return False
        if fp != "+" and fp != tparts[i]:
            return False
    return len(fparts) == len(tparts)


# --------------------------------------------------------------------------
# client
# --------------------------------------------------------------------------


class MqttClient:
    """Minimal synchronous 3.1.1 client: connect, subscribe, publish
    (QoS 0/1), blocking receive. One socket, no background thread — the
    owner drives `recv_publish()` / relies on per-call PUBACK waits."""

    def __init__(self, host: str, port: int, client_id: str | None = None,
                 keepalive: int = 60, clean_session: bool = True, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._pid = 0
        cid = client_id or f"bento-spark-{uuid.uuid4().hex[:12]}"
        flags = 0x02 if clean_session else 0x00
        body = _enc_str("MQTT") + bytes([4, flags]) + struct.pack(">H", keepalive) + _enc_str(cid)
        self.sock.sendall(encode_packet(CONNECT, 0, body))
        ptype, _, ack = read_packet(self.sock)
        if ptype != CONNACK or len(ack) != 2:
            raise ConnectionError(f"mqtt: expected CONNACK, got type {ptype}")
        if ack[1] != 0:
            raise ConnectionError(f"mqtt: connection refused, return code {ack[1]}")

    def _next_pid(self) -> int:
        self._pid = self._pid % 0xFFFF + 1
        return self._pid

    def subscribe(self, topics: list[str], qos: int = 1) -> None:
        pid = self._next_pid()
        body = struct.pack(">H", pid)
        for t in topics:
            body += _enc_str(t) + bytes([qos])
        self.sock.sendall(encode_packet(SUBSCRIBE, 0x02, body))
        ptype, _, ack = read_packet(self.sock)
        if ptype != SUBACK or struct.unpack(">H", ack[:2])[0] != pid:
            raise ConnectionError("mqtt: SUBSCRIBE not acknowledged")
        if any(rc == 0x80 for rc in ack[2:]):
            raise ConnectionError("mqtt: subscription rejected by broker")

    def publish(self, topic: str, payload: bytes, qos: int = 0, retain: bool = False) -> None:
        flags = (qos << 1) | (1 if retain else 0)
        body = _enc_str(topic)
        pid = None
        if qos:
            pid = self._next_pid()
            body += struct.pack(">H", pid)
        self.sock.sendall(encode_packet(PUBLISH, flags, body + payload))
        if qos:
            ptype, _, ack = read_packet(self.sock)
            if ptype != PUBACK or struct.unpack(">H", ack[:2])[0] != pid:
                raise ConnectionError("mqtt: PUBACK missing for QoS1 publish")

    def recv_publish(self) -> tuple[str, bytes, int | None, bool] | None:
        """Block for the next inbound PUBLISH -> (topic, payload, packet
        id, retained); the packet id is None at QoS0, else the caller
        acks it with `puback` once the message is safe. Skips PINGRESP;
        None on DISCONNECT."""
        while True:
            ptype, flags, body = read_packet(self.sock)
            if ptype == PUBLISH:
                tlen = struct.unpack(">H", body[:2])[0]
                topic = body[2:2 + tlen].decode("utf-8")
                i = 2 + tlen
                pid = None
                if (flags >> 1) & 0x03:
                    pid = struct.unpack(">H", body[i:i + 2])[0]
                    i += 2
                return topic, body[i:], pid, bool(flags & 0x01)
            if ptype == PINGRESP:
                continue
            if ptype == DISCONNECT:
                return None

    def puback(self, pid: int) -> None:
        self.sock.sendall(encode_packet(PUBACK, 0, struct.pack(">H", pid)))

    def ping(self) -> None:
        self.sock.sendall(encode_packet(PINGREQ, 0, b""))

    def disconnect(self) -> None:
        try:
            self.sock.sendall(encode_packet(DISCONNECT, 0, b""))
        except OSError:
            pass
        self.close()

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


@dataclass
class MqttSpooler:
    """`mqtt` input (input.go): subscribe and spool each message as one
    durable file. QoS1 semantics hold end-to-end: the loop PUBACKs a
    message only after its spool put returns (the file IS the ack
    barrier); a put that raises acks nothing and ends the loop."""

    host: str
    port: int
    topics: list[str]
    spool_dir: str
    qos: int = 1
    client_id: str | None = None
    clean_session: bool = True
    _client: MqttClient | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)

    def start(self) -> "MqttSpooler":
        spool = Spool(self.spool_dir)
        # subscribe BEFORE returning so no publish races the subscription
        client = MqttClient(self.host, self.port, client_id=self.client_id,
                            clean_session=self.clean_session)
        client.subscribe(list(self.topics), qos=self.qos)
        # block forever on push traffic — the connect-time timeout would
        # otherwise kill an IDLE subscriber after 10s
        client.sock.settimeout(None)
        self._client = client

        def run() -> None:
            while not self._stop.is_set():
                try:
                    got = client.recv_publish()
                except (ConnectionError, OSError, ValueError):
                    return  # socket closed by stop() or broker
                if got is None:
                    return
                topic, payload, pid, _retained = got
                # the reference's mqtt_topic metadata
                spool.put(payload, mqtt_topic=topic)
                if pid is not None:
                    try:
                        client.puback(pid)
                    except OSError:
                        return  # socket closed by stop() or broker

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._client is not None:
            self._client.close()  # unblocks the recv loop
            self._client = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def mqtt_sink(host: str, port: int, topic: str, qos: int = 1, retained: bool = False):
    """`mqtt` output (output.go: topic, qos, retained): rows publish as
    JSON, serialized JVM-side (to_json), one connection per partition
    executor-side; QoS1 waits for each PUBACK. At-least-once across
    micro-batch replay (MQTT has no transactions — same contract as the
    reference output)."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            F.to_json(F.struct(*[F.col(c) for c in batch_df.columns])).alias("v")
        )

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.mqtt import MqttClient

            client = None
            try:
                for row in rows:
                    if client is None:
                        client = MqttClient(host, port)
                    client.publish(topic, row.v.encode("utf-8"), qos=qos, retain=retained)
            finally:
                if client is not None:
                    client.disconnect()

        payloads.foreachPartition(send)

    return write_batch


# --------------------------------------------------------------------------
# in-process broker (test-grade)
# --------------------------------------------------------------------------


class MiniMqttBroker:
    """Single-host 3.1.1 broker subset for e2e tests: CONNECT/CONNACK,
    SUBSCRIBE/SUBACK with `+`/`#` filters, QoS 0/1 PUBLISH routing with
    PUBACK to the publisher, retained-message replay on subscribe,
    PINGREQ/PINGRESP. Not a production broker — the deliverable is the
    CLIENT; this exists so the connector can be driven end-to-end without
    external services."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._server: socket.socket | None = None
        self._subs: list[tuple[socket.socket, str, int]] = []
        self._retained: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []

    def start(self) -> "MiniMqttBroker":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self.host, self.port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv

        def accept_loop() -> None:
            while not self._stop.is_set():
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return
                t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
                t.start()
                self._threads.append(t)

        t = threading.Thread(target=accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def _serve(self, conn: socket.socket) -> None:
        try:
            ptype, _, body = read_packet(conn)
            if ptype != CONNECT:
                conn.close()
                return
            # accept any 3.1.1 client: session-present=0, rc=0
            conn.sendall(encode_packet(CONNACK, 0, b"\x00\x00"))
            while not self._stop.is_set():
                ptype, flags, body = read_packet(conn)
                if ptype == SUBSCRIBE:
                    pid = struct.unpack(">H", body[:2])[0]
                    i, granted = 2, bytearray()
                    with self._lock:
                        while i < len(body):
                            ln = struct.unpack(">H", body[i:i + 2])[0]
                            filt = body[i + 2:i + 2 + ln].decode("utf-8")
                            q = body[i + 2 + ln]
                            i += 3 + ln
                            self._subs.append((conn, filt, q))
                            granted.append(min(q, 1))
                        retained = [(t, p) for t, p in self._retained.items()
                                    if any(topic_matches(f, t) for c, f, _ in self._subs
                                           if c is conn)]
                    conn.sendall(encode_packet(SUBACK, 0, struct.pack(">H", pid) + bytes(granted)))
                    for t, p in retained:
                        self._deliver(conn, t, p, qos=0, retain=True)
                elif ptype == PUBLISH:
                    qos = (flags >> 1) & 0x03
                    retain = bool(flags & 0x01)
                    tlen = struct.unpack(">H", body[:2])[0]
                    topic = body[2:2 + tlen].decode("utf-8")
                    i = 2 + tlen
                    if qos:
                        pid = struct.unpack(">H", body[i:i + 2])[0]
                        i += 2
                    payload = body[i:]
                    with self._lock:
                        if retain:
                            self._retained[topic] = payload
                        targets = [(c, q) for c, f, q in self._subs
                                   if c is not None and topic_matches(f, topic)]
                    for c, q in targets:
                        self._deliver(c, topic, payload, qos=0, retain=False)
                    if qos:
                        conn.sendall(encode_packet(PUBACK, 0, struct.pack(">H", pid)))
                elif ptype == PINGREQ:
                    conn.sendall(encode_packet(PINGRESP, 0, b""))
                elif ptype == DISCONNECT:
                    break
        except (ConnectionError, OSError, ValueError, struct.error):
            pass
        finally:
            with self._lock:
                self._subs = [(c, f, q) for c, f, q in self._subs if c is not conn]
            try:
                conn.close()
            except OSError:
                pass

    @staticmethod
    def _deliver(conn: socket.socket, topic: str, payload: bytes,
                 qos: int, retain: bool) -> None:
        flags = (qos << 1) | (1 if retain else 0)
        try:
            conn.sendall(encode_packet(PUBLISH, flags, _enc_str(topic) + payload))
        except OSError:
            pass  # dead subscriber: pruned when its serve loop exits

    def stop(self) -> None:
        self._stop.set()
        if self._server is not None:
            try:
                self._server.close()
            except OSError:
                pass
            self._server = None
        with self._lock:
            for c, _, _ in self._subs:
                try:
                    c.close()
                except OSError:
                    pass
            self._subs = []
