"""Cypher (Neo4j / Bolt) input/output — dependency-free client for the
public Bolt 4.4 protocol (the documented handshake, chunked message
framing, PackStream v2 serialization, and the HELLO/RUN/PULL/RECORD/
SUCCESS/FAILURE message flow), plus an in-process Bolt server for e2e.

Reference: internal/impl/cypher/input_cypher.go (uri, database,
basic_auth / no_auth, `query` — one message per record, shuts down when
the records are exhausted), output_cypher.go (query + `values` map of
interpolated strings feeding the $param references, batching). The
reference uses neo4j-go-driver; no neo4j wheel ships here, so the wire
protocol is implemented from the published Bolt specification.

Spark-first mapping:
- input  -> cypher_bridge runs ONE query (RUN/PULL -1), spooling each
  record as a JSON object keyed by the result's field names.
- output -> one RUN per row with the row's interpolated $values params
  (rendered JVM-side as a JSON column), failures surfaced as
  ConnectionError (the query dies loudly, the
  engine's error_handling owns retries).

The MiniBoltServer VERIFIES basic-auth credentials in HELLO, answers
canned result sets per query string (the input side), and records every
RUN's (query, params) (the output side) — protocol-verifying like the
repo's other capture servers; it is not a graph engine.
"""

from __future__ import annotations

import functools
import json
import socket
import struct
import threading

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader

BOLT_MAGIC = b"\x60\x60\xb0\x17"
# propose 4.4 only — single-suite negotiation like the SSH transport
VERSION_4_4 = b"\x00\x00\x04\x04"

M_HELLO, M_GOODBYE, M_RESET = 0x01, 0x02, 0x0F
M_RUN, M_DISCARD, M_PULL = 0x10, 0x2F, 0x3F
M_SUCCESS, M_RECORD, M_IGNORED, M_FAILURE = 0x70, 0x71, 0x7E, 0x7F


class Structure:
    """PackStream structure: tag byte + fields."""

    def __init__(self, tag: int, fields: list):
        self.tag = tag
        self.fields = fields

    def __repr__(self):
        return f"Structure(0x{self.tag:02x}, {self.fields!r})"

    def __eq__(self, other):
        return (isinstance(other, Structure) and other.tag == self.tag
                and other.fields == self.fields)


# ---------------------------------------------------------------------------
# PackStream v2 (the documented marker table)
# ---------------------------------------------------------------------------


def ps_pack(v) -> bytes:
    if v is None:
        return b"\xc0"
    if v is True:
        return b"\xc3"
    if v is False:
        return b"\xc2"
    if isinstance(v, int):
        if -16 <= v < 128:
            return struct.pack(">b", v)
        if -128 <= v < 128:
            return b"\xc8" + struct.pack(">b", v)
        if -(1 << 15) <= v < (1 << 15):
            return b"\xc9" + struct.pack(">h", v)
        if -(1 << 31) <= v < (1 << 31):
            return b"\xca" + struct.pack(">i", v)
        return b"\xcb" + struct.pack(">q", v)
    if isinstance(v, float):
        return b"\xc1" + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n < 16:
            return bytes([0x80 + n]) + b
        if n < 256:
            return b"\xd0" + bytes([n]) + b
        if n < (1 << 16):
            return b"\xd1" + struct.pack(">H", n) + b
        return b"\xd2" + struct.pack(">I", n) + b
    if isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n < 256:
            return b"\xcc" + bytes([n]) + bytes(v)
        if n < (1 << 16):
            return b"\xcd" + struct.pack(">H", n) + bytes(v)
        return b"\xce" + struct.pack(">I", n) + bytes(v)
    if isinstance(v, (list, tuple)):
        n = len(v)
        if n < 16:
            head = bytes([0x90 + n])
        elif n < 256:
            head = b"\xd4" + bytes([n])
        elif n < (1 << 16):
            head = b"\xd5" + struct.pack(">H", n)
        else:
            head = b"\xd6" + struct.pack(">I", n)
        return head + b"".join(ps_pack(x) for x in v)
    if isinstance(v, dict):
        n = len(v)
        if n < 16:
            head = bytes([0xA0 + n])
        elif n < 256:
            head = b"\xd8" + bytes([n])
        elif n < (1 << 16):
            head = b"\xd9" + struct.pack(">H", n)
        else:
            head = b"\xda" + struct.pack(">I", n)
        return head + b"".join(ps_pack(str(k)) + ps_pack(x)
                               for k, x in v.items())
    if isinstance(v, Structure):
        if len(v.fields) > 15:
            raise ValueError("packstream: structure >15 fields")
        return (bytes([0xB0 + len(v.fields), v.tag])
                + b"".join(ps_pack(f) for f in v.fields))
    raise TypeError(f"packstream: cannot pack {type(v).__name__}")


class _R:
    def __init__(self, buf: bytes):
        self.buf, self.pos = buf, 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("packstream: truncated")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def u8(self) -> int:
        return self.take(1)[0]


def _ps_unpack(r: _R):
    m = r.u8()
    if m <= 0x7F:
        return m
    if m >= 0xF0:
        return m - 0x100  # negative tiny int
    if 0x80 <= m < 0x90:
        return r.take(m - 0x80).decode("utf-8")
    if 0x90 <= m < 0xA0:
        return [_ps_unpack(r) for _ in range(m - 0x90)]
    if 0xA0 <= m < 0xB0:
        return {_ps_unpack(r): _ps_unpack(r) for _ in range(m - 0xA0)}
    if 0xB0 <= m < 0xC0:
        tag = r.u8()
        return Structure(tag, [_ps_unpack(r) for _ in range(m - 0xB0)])
    if m == 0xC0:
        return None
    if m == 0xC1:
        return struct.unpack(">d", r.take(8))[0]
    if m == 0xC2:
        return False
    if m == 0xC3:
        return True
    if m == 0xC8:
        return struct.unpack(">b", r.take(1))[0]
    if m == 0xC9:
        return struct.unpack(">h", r.take(2))[0]
    if m == 0xCA:
        return struct.unpack(">i", r.take(4))[0]
    if m == 0xCB:
        return struct.unpack(">q", r.take(8))[0]
    if m == 0xCC:
        return bytes(r.take(r.u8()))
    if m == 0xCD:
        return bytes(r.take(struct.unpack(">H", r.take(2))[0]))
    if m == 0xCE:
        return bytes(r.take(struct.unpack(">I", r.take(4))[0]))
    if m == 0xD0:
        return r.take(r.u8()).decode("utf-8")
    if m == 0xD1:
        return r.take(struct.unpack(">H", r.take(2))[0]).decode("utf-8")
    if m == 0xD2:
        return r.take(struct.unpack(">I", r.take(4))[0]).decode("utf-8")
    if m == 0xD4:
        return [_ps_unpack(r) for _ in range(r.u8())]
    if m == 0xD5:
        return [_ps_unpack(r) for _ in range(struct.unpack(">H", r.take(2))[0])]
    if m == 0xD8:
        return {_ps_unpack(r): _ps_unpack(r) for _ in range(r.u8())}
    if m == 0xD9:
        return {_ps_unpack(r): _ps_unpack(r)
                for _ in range(struct.unpack(">H", r.take(2))[0])}
    raise ValueError(f"packstream: unsupported marker 0x{m:02x}")


def ps_unpack(buf: bytes):
    return _ps_unpack(_R(buf))


# ---------------------------------------------------------------------------
# chunked framing
# ---------------------------------------------------------------------------


def send_message(sock: socket.socket, tag: int, fields: list) -> None:
    payload = ps_pack(Structure(tag, fields))
    out = b""
    for i in range(0, len(payload), 0xFFFF):
        chunk = payload[i : i + 0xFFFF]
        out += struct.pack(">H", len(chunk)) + chunk
    sock.sendall(out + b"\x00\x00")


def recv_message(reader: SocketReader) -> Structure:
    payload = b""
    while True:
        size = struct.unpack(">H", reader.exact(2))[0]
        if size == 0:
            if payload:
                break
            continue  # NOOP chunk (keepalive)
        payload += reader.exact(size)
    msg = ps_unpack(payload)
    if not isinstance(msg, Structure):
        raise ConnectionError("bolt: non-structure message")
    return msg


def parse_bolt_uri(uri: str) -> tuple[str, int]:
    hp = str(uri)
    for scheme in ("bolt+s://", "bolt://", "neo4j+s://", "neo4j://"):
        hp = hp.removeprefix(scheme)
    host, _, port = hp.rstrip("/").partition(":")
    return host or "127.0.0.1", int(port or 7687)


class BoltClient:
    """Bolt 4.4 client: magic+version handshake, HELLO (basic or no
    auth), RUN/PULL with streamed RECORDs, FAILURE -> ConnectionError."""

    def __init__(self, uri: str, *, user: str | None = None,
                 password: str | None = None, realm: str = "",
                 timeout: float = 15.0):
        host, port = parse_bolt_uri(uri)
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "bolt")
        self.sock.sendall(BOLT_MAGIC + VERSION_4_4 + b"\x00" * 12)
        chosen = self.reader.exact(4)
        if chosen != VERSION_4_4:
            raise ConnectionError(f"bolt: server chose {chosen.hex()}")
        extra: dict = {"user_agent": "bento-spark/0.1"}
        if user is not None:
            extra.update(scheme="basic", principal=user,
                         credentials=password or "")
            if realm:
                extra["realm"] = realm
        else:
            extra["scheme"] = "none"
        send_message(self.sock, M_HELLO, [extra])
        resp = recv_message(self.reader)
        if resp.tag == M_FAILURE:
            meta = resp.fields[0] if resp.fields else {}
            raise ConnectionError(f"bolt: HELLO failed: {meta.get('message')}")
        if resp.tag != M_SUCCESS:
            raise ConnectionError(f"bolt: unexpected HELLO reply 0x{resp.tag:02x}")

    def run(self, query: str, params: dict | None = None,
            database: str = "") -> tuple[list[str], list[list]]:
        """RUN + PULL(-1) -> (field names, record rows)."""
        extra = {"db": database} if database else {}
        send_message(self.sock, M_RUN, [query, params or {}, extra])
        head = recv_message(self.reader)
        if head.tag == M_FAILURE:
            meta = head.fields[0] if head.fields else {}
            self._reset()
            raise ConnectionError(f"bolt: {meta.get('code')}: "
                                  f"{meta.get('message')}")
        fields = list((head.fields[0] or {}).get("fields", []))
        send_message(self.sock, M_PULL, [{"n": -1}])
        rows: list[list] = []
        while True:
            msg = recv_message(self.reader)
            if msg.tag == M_RECORD:
                rows.append(list(msg.fields[0]))
            elif msg.tag == M_SUCCESS:
                return fields, rows
            elif msg.tag == M_FAILURE:
                meta = msg.fields[0] if msg.fields else {}
                self._reset()
                raise ConnectionError(f"bolt: {meta.get('code')}: "
                                      f"{meta.get('message')}")
            else:
                raise ConnectionError(f"bolt: unexpected 0x{msg.tag:02x}")

    def _reset(self) -> None:
        try:
            send_message(self.sock, M_RESET, [])
            recv_message(self.reader)
        except (ConnectionError, OSError):
            pass

    def close(self) -> None:
        try:
            send_message(self.sock, M_GOODBYE, [])
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def cypher_bridge(uri: str, query: str, spool_dir: str, database: str = "",
                  user: str | None = None, password: str | None = None) -> Bridge:
    """`cypher` input (input_cypher.go): run the query once, one spool
    file per record (a JSON object keyed by the result's field names),
    then finish: the reference input shuts down when records are
    exhausted."""

    def messages(client: BoltClient, stop):
        fields, rows = client.run(query, database=database)
        for row in rows:
            yield json.dumps(dict(zip(fields, row)), default=str), {}, None

    return Bridge("cypher", spool_dir,
                  functools.partial(BoltClient, uri, user=user, password=password), messages)


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def cypher_sink(uri: str, query: str, values_col: str, *,
                database: str = "", user: str | None = None,
                password: str | None = None):
    """`cypher` output (output_cypher.go): one RUN per row; the `values`
    map of interpolations arrives as ONE pre-rendered JSON COLUMN whose
    keys feed the query's $param references."""

    def send(client, rows) -> None:
        for row in rows:
            client.run(query, json.loads(row.v or "{}"), database=database)

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import write_partitions

        write_partitions(batch_df.select(F.col(values_col).alias("v")),
                         functools.partial(BoltClient, uri, user=user, password=password),
                         send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process server (test-grade)
# ---------------------------------------------------------------------------


class MiniBoltServer:
    """Bolt 4.4 server subset for e2e tests: handshake, HELLO auth check
    (basic scheme against configured users; `scheme: none` allowed when
    no users are set), RUN/PULL answering canned result sets per query
    string and RECORDING every (query, params) — protocol-verifying, not
    a graph engine."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 users: dict[str, str] | None = None):
        self.host, self.port = host, port
        self.users = dict(users or {})
        # query string -> (fields, rows)
        self.datasets: dict[str, tuple[list[str], list[list]]] = {}
        self.executed: list[tuple[str, dict]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    @property
    def uri(self) -> str:
        return f"bolt://{self.host}:{self.port}"

    def start(self) -> "MiniBoltServer":
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

    def _serve(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "bolt")
        pending: tuple[list[str], list[list]] | None = None
        try:
            conn.settimeout(15)
            if reader.exact(4) != BOLT_MAGIC:
                return
            versions = reader.exact(16)
            if VERSION_4_4 not in [versions[i : i + 4] for i in range(0, 16, 4)]:
                conn.sendall(b"\x00\x00\x00\x00")
                return
            conn.sendall(VERSION_4_4)
            hello = recv_message(reader)
            if hello.tag != M_HELLO:
                return
            extra = hello.fields[0] if hello.fields else {}
            if self.users:
                ok = (extra.get("scheme") == "basic"
                      and self.users.get(extra.get("principal", ""))
                      == extra.get("credentials"))
                if not ok:
                    send_message(conn, M_FAILURE, [{
                        "code": "Neo.ClientError.Security.Unauthorized",
                        "message": "unauthorized"}])
                    return
            send_message(conn, M_SUCCESS, [{"server": "mini-bolt/4.4",
                                            "connection_id": "c0"}])
            while not self._stop.is_set():
                msg = recv_message(reader)
                if msg.tag == M_RUN:
                    query = str(msg.fields[0])
                    params = dict(msg.fields[1] or {})
                    with self._lock:
                        self.executed.append((query, params))
                        pending = self.datasets.get(query, ([], []))
                    send_message(conn, M_SUCCESS,
                                 [{"fields": pending[0], "t_first": 0}])
                elif msg.tag == M_PULL:
                    fields, rows = pending or ([], [])
                    for row in rows:
                        send_message(conn, M_RECORD, [row])
                    send_message(conn, M_SUCCESS, [{"t_last": 0}])
                    pending = None
                elif msg.tag == M_RESET:
                    send_message(conn, M_SUCCESS, [{}])
                elif msg.tag == M_GOODBYE:
                    return
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
