"""NSQ input/output — dependency-free client for the public NSQ TCP
protocol V2 (nsq.io/clients/tcp_protocol_spec.html: `  V2` magic,
IDENTIFY/SUB/RDY/PUB/FIN/REQ/NOP commands, size+frameType framed
responses, message frames = ns-timestamp + attempts + 16-byte id + body,
`_heartbeat_` answered with NOP), plus an in-process test nsqd.

Reference: internal/impl/nsq/input.go (nsqd_tcp_addresses, topic,
channel, max_in_flight, max_attempts; per-message nsq_attempts/nsq_id/
nsq_timestamp/nsq_nsqd_address metadata) and output.go
(nsqd_tcp_address, topic). The reference uses go-nsq; no NSQ wheel ships
in this sandbox, so the wire protocol is implemented from the published
spec — the connector is REAL and e2e-testable in-process instead of
availability-gated.

Spark-first mapping (same spool-bridge rationale as every push source):
- input  -> nsq_bridge SUBs a channel with RDY flow control and persists
  each message as a durable spool file; FIN is sent only AFTER the
  spool put, so at-least-once holds into the replayable file source
  (a crash before FIN means nsqd re-delivers with attempts+1 — the
  protocol's contract and the reference's). attempts/id/timestamp ride
  the spool file's header and surface as `nsq_attempts`/`nsq_id`/
  `nsq_timestamp` columns parsed JVM-side.
- output -> rows publish as JSON serialized JVM-side (to_json); each PUB
  waits for its OK response frame, so a failed publish fails the
  micro-batch for checkpoint-level retry (at-least-once).

Channel semantics (spec §"topics and channels"): every channel gets a
COPY of each topic message; within a channel, messages distribute across
subscribers — the horizontal-scaling contract a consumer fleet relies
on. The mini nsqd implements exactly that.
"""

from __future__ import annotations

import functools
import json
import socket
import struct
import threading
import uuid

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader

_I32 = struct.Struct(">i")
_MAGIC = b"  V2"
_FRAME_RESPONSE, _FRAME_ERROR, _FRAME_MESSAGE = 0, 1, 2


class NsqClient:
    """Minimal synchronous NSQ V2 client: magic + IDENTIFY handshake,
    SUB/RDY consumption (heartbeats answered inline), PUB with OK
    confirmation, FIN/REQ acks."""

    def __init__(self, host: str, port: int, user_agent: str = "bento-spark",
                 timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "nsq")
        self.sock.sendall(_MAGIC)
        ident = {"client_id": f"bento-spark-{uuid.uuid4().hex[:8]}",
                 "hostname": socket.gethostname(), "user_agent": user_agent,
                 "feature_negotiation": True}
        body = json.dumps(ident).encode()
        self.sock.sendall(b"IDENTIFY\n" + _I32.pack(len(body)) + body)
        ftype, data = self._read_frame()
        if ftype != _FRAME_RESPONSE:
            raise ConnectionError(f"nsq: IDENTIFY failed: {data[:80]!r}")

    def _read_frame(self) -> tuple[int, bytes]:
        size = _I32.unpack(self.reader.exact(4))[0]
        data = self.reader.exact(size)
        return _I32.unpack(data[:4])[0], data[4:]

    def _expect_ok(self, what: str) -> None:
        while True:
            ftype, data = self._read_frame()
            if ftype == _FRAME_RESPONSE and data == b"_heartbeat_":
                self.sock.sendall(b"NOP\n")
                continue
            if ftype == _FRAME_RESPONSE:
                return
            raise ConnectionError(f"nsq: {what} -> {data[:80]!r}")

    def sub(self, topic: str, channel: str) -> None:
        self.sock.sendall(f"SUB {topic} {channel}\n".encode())
        self._expect_ok("SUB")

    def rdy(self, count: int) -> None:
        self.sock.sendall(f"RDY {count}\n".encode())

    def pub(self, topic: str, body: bytes) -> None:
        self.sock.sendall(f"PUB {topic}\n".encode() + _I32.pack(len(body)) + body)
        self._expect_ok("PUB")

    def fin(self, msg_id: bytes) -> None:
        self.sock.sendall(b"FIN " + msg_id + b"\n")

    def req(self, msg_id: bytes, timeout_ms: int = 0) -> None:
        self.sock.sendall(b"REQ " + msg_id + f" {timeout_ms}\n".encode())

    def recv_msg(self) -> tuple[int, int, bytes, bytes]:
        """Block for the next message frame -> (timestamp_ns, attempts,
        id[16], body); answers heartbeats inline."""
        while True:
            ftype, data = self._read_frame()
            if ftype == _FRAME_MESSAGE:
                ts, attempts = struct.unpack(">qH", data[:10])
                return ts, attempts, data[10:26], data[26:]
            if ftype == _FRAME_RESPONSE:
                if data == b"_heartbeat_":
                    self.sock.sendall(b"NOP\n")
                continue
            raise ConnectionError(f"nsq: {data[:80]!r}")

    def close(self) -> None:
        try:
            self.sock.sendall(b"CLS\n")
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass


def parse_nsqd_addr(addr: str) -> tuple[str, int]:
    hp = str(addr).removeprefix("tcp://").removeprefix("nsq://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 4150)


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def nsq_bridge(host: str, port: int, topic: str, channel: str, spool_dir: str,
               max_in_flight: int = 64, max_attempts: int = 5) -> Bridge:
    """`nsq` input (input.go): SUB a channel, RDY `max_in_flight`, spool
    each message as one durable file, FIN only after the spool put:
    at-least-once. Messages whose attempts exceed `max_attempts` are
    FINned without spooling (the reference's discard path)."""

    def connect() -> NsqClient:
        client = NsqClient(host, port)
        client.sub(topic, channel)
        client.rdy(max_in_flight)
        client.sock.settimeout(None)  # an idle subscriber blocks on push traffic
        return client

    def fin(client: NsqClient, msg_id: bytes) -> None:
        client.fin(msg_id)
        # RDY is a decrementing allowance (spec: the server counts down
        # per delivery): refresh it so the subscription never stalls at 0
        client.rdy(max_in_flight)

    def messages(client: NsqClient, stop):
        while True:
            ts, attempts, msg_id, body = client.recv_msg()
            if attempts > max_attempts:
                fin(client, msg_id)  # poison message discard (input.go)
                continue
            # input.go:248-251 metadata
            yield body, {"nsq_id": msg_id.decode("ascii"), "nsq_attempts": attempts,
                         "nsq_timestamp": ts}, functools.partial(fin, client, msg_id)

    return Bridge("nsq", spool_dir, connect, messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def nsq_sink(host: str, port: int, topic: str):
    """`nsq` output (output.go: nsqd_tcp_address, topic): rows publish as
    JSON serialized JVM-side; each PUB waits for its OK frame so a
    rejected publish fails the micro-batch (checkpoint-replay
    at-least-once, like the reference's error-propagating Publish)."""
    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        for row in rows:
            client.pub(topic, row.v.encode("utf-8"))

    def write_batch(batch_df, epoch_id: int) -> None:
        write_partitions(batch_df.select(json_body(batch_df).alias("v")),
                         functools.partial(NsqClient, host, port), send)

    return write_batch


# --------------------------------------------------------------------------
# in-process nsqd (test-grade)
# --------------------------------------------------------------------------


class MiniNsqServer:
    """Single-host nsqd subset for e2e tests: V2 handshake, IDENTIFY,
    SUB/RDY per-channel delivery (each channel gets a COPY of every topic
    message; within a channel messages distribute across subscribers),
    PUB, FIN/REQ in-flight tracking with attempts, CLS. Message ids are a
    deterministic 16-hex counter, timestamps a deterministic counter (no
    wall-clock in any data path). Not a production daemon — the
    deliverable is the CLIENT; this exists so the connector can be driven
    end-to-end without external services."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        # (topic, channel) -> pending [(id, attempts, body)]
        self._queues: dict[tuple[str, str], list[tuple[bytes, int, bytes]]] = {}
        self._channels: dict[str, set[str]] = {}  # topic -> channels
        # subscriber conn -> (topic, channel, rdy_count)
        self._subs: dict[socket.socket, list] = {}
        # (conn, id) -> (topic, channel, attempts, body) in-flight
        self._inflight: dict[tuple[socket.socket, bytes], tuple] = {}
        self._seq = 0
        self._ts = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    def start(self) -> "MiniNsqServer":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self.host, self.port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._server is not None:
            try:
                self._server.close()
            except OSError:
                pass
        with self._lock:
            for s in list(self._subs):
                try:
                    s.close()
                except OSError:
                    pass
            self._subs.clear()
        for t in self._threads:
            t.join(timeout=2)

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    @staticmethod
    def _send_frame(conn: socket.socket, ftype: int, data: bytes) -> None:
        conn.sendall(_I32.pack(4 + len(data)) + _I32.pack(ftype) + data)

    def _pump(self) -> None:
        """Deliver pending messages to subscribers with RDY capacity.
        Caller holds the lock."""
        for conn, state in list(self._subs.items()):
            topic, channel, rdy = state
            q = self._queues.get((topic, channel))
            while q and rdy > 0:
                msg_id, attempts, body = q.pop(0)
                attempts += 1
                rdy -= 1
                self._inflight[(conn, msg_id)] = (topic, channel, attempts, body)
                self._ts += 1
                frame = struct.pack(">qH", self._ts, attempts) + msg_id + body
                try:
                    self._send_frame(conn, _FRAME_MESSAGE, frame)
                except OSError:
                    self._drop_conn(conn)
                    break
            state[2] = rdy

    def _drop_conn(self, conn: socket.socket) -> None:
        """Requeue a dead subscriber's in-flight messages. Caller holds
        the lock."""
        state = self._subs.pop(conn, None)
        for (c, mid), (topic, channel, attempts, body) in list(self._inflight.items()):
            if c is conn:
                del self._inflight[(c, mid)]
                self._queues.setdefault((topic, channel), []).append(
                    (mid, attempts, body))
        if state is not None:
            self._pump()

    def _serve(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "nsq")

        read_exact = reader.exact

        def read_line() -> bytes:
            return reader.line(b"\n")

        try:
            if read_exact(4) != _MAGIC:
                return
            while not self._stop.is_set():
                line = read_line().decode("utf-8", "replace")
                verb, *args = line.split(" ")
                if verb == "IDENTIFY":
                    n = _I32.unpack(read_exact(4))[0]
                    read_exact(n)
                    self._send_frame(conn, _FRAME_RESPONSE, b"OK")
                elif verb == "SUB":
                    topic, channel = args[0], args[1]
                    with self._lock:
                        self._channels.setdefault(topic, set()).add(channel)
                        self._queues.setdefault((topic, channel), [])
                        self._subs[conn] = [topic, channel, 0]
                    self._send_frame(conn, _FRAME_RESPONSE, b"OK")
                elif verb == "RDY":
                    with self._lock:
                        if conn in self._subs:
                            self._subs[conn][2] = int(args[0])
                            self._pump()
                elif verb == "PUB":
                    topic = args[0]
                    n = _I32.unpack(read_exact(4))[0]
                    body = read_exact(n)
                    with self._lock:
                        self._channels.setdefault(topic, set())
                        self._seq += 1
                        msg_id = f"{self._seq:016x}".encode("ascii")
                        # a copy lands in EVERY channel of the topic
                        for ch in self._channels[topic] or set():
                            self._queues.setdefault((topic, ch), []).append(
                                (msg_id, 0, body))
                        self._pump()
                    self._send_frame(conn, _FRAME_RESPONSE, b"OK")
                elif verb == "FIN":
                    with self._lock:
                        self._inflight.pop((conn, args[0].encode("ascii")), None)
                elif verb == "REQ":
                    with self._lock:
                        ent = self._inflight.pop((conn, args[0].encode("ascii")), None)
                        if ent is not None:
                            topic, channel, attempts, body = ent
                            self._queues.setdefault((topic, channel), []).append(
                                (args[0].encode("ascii"), attempts, body))
                            self._pump()
                elif verb == "NOP":
                    continue
                elif verb == "CLS":
                    self._send_frame(conn, _FRAME_RESPONSE, b"CLOSE_WAIT")
                    return
        except (ConnectionError, OSError, ValueError, IndexError):
            pass
        finally:
            with self._lock:
                self._drop_conn(conn)
            try:
                conn.close()
            except OSError:
                pass
