"""`http_server` input: push-based ingestion over HTTP, dev-grade.

Reference: the http_server input exposes a POST endpoint and turns each
request body into a message (multipart parts become a batch)
(internal/impl/io/input_http_server.go:44,461-478). It is
the reference's webhook-style push source.

Spark-first mapping: a spool bridge (streaming/spool.py). A driver-side
HTTP listener persists each accepted request body as one spool file, and
the stream is a file source over the spool dir.

The listener is dev-grade like the reference's (single host, no TLS/auth):
it acknowledges with 200 only after the spool file is durably in place.
Responses: 200 on accept, 404 wrong path, 405 non-POST.
"""

from __future__ import annotations

import os
import threading
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader, hang_up
from bento_spark.streaming.spool import Spool


@dataclass
class HttpSpoolServer:
    """Driver-side HTTP listener writing request bodies into a spool dir."""

    spool_dir: str
    host: str = "127.0.0.1"
    port: int = 0  # 0 = ephemeral
    path: str = "/post"
    #: when set, the listener holds each request open until the pipeline
    #: routes a reply file for it into this dir (`output.sync_response` —
    #: output_sync_response.go:15: the processed message IS the HTTP
    #: response). None = classic fire-and-forget 200-on-spool.
    sync_dir: str | None = None
    sync_timeout: float = 15.0
    _httpd: object = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)

    def start(self) -> "HttpSpoolServer":
        import http.server
        import os
        import time

        spool = Spool(self.spool_dir)
        sync_dir, sync_timeout = self.sync_dir, self.sync_timeout
        if sync_dir:
            Path(sync_dir).mkdir(parents=True, exist_ok=True)
        route = self.path

        def await_response(request_id: str) -> bytes | None:
            """File-based reply handoff: executor tasks (separate
            processes on a real cluster) drop `<request_id>.resp` into the
            shared sync dir; poll until it lands or the deadline passes."""
            resp = Path(sync_dir) / f"{request_id}.resp"
            deadline = time.monotonic() + sync_timeout
            while time.monotonic() < deadline:
                if resp.exists():
                    body = resp.read_bytes()
                    try:
                        os.unlink(resp)
                    except OSError:
                        pass
                    return body
                time.sleep(0.02)
            return None

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — stdlib naming
                if self.path != route:
                    self.send_error(404)
                    return
                if self.headers.get("Content-Length") is None:
                    # chunked/absent length: acking 200 while dropping the
                    # body would violate the durable-ack contract
                    self.send_error(411)
                    return
                # sync mode: the routing key the row carries as request_id
                request_id = uuid.uuid4().hex if sync_dir else None
                try:
                    body = self.rfile.read(int(self.headers["Content-Length"]))
                    spool.put(body, request_id=request_id)
                except Exception as e:  # noqa: BLE001 — fault -> 500, keep serving
                    self.send_error(500, str(e))
                    return
                if request_id:
                    reply = await_response(request_id)
                    if reply is None:
                        # reference gateway semantics: processing didn't
                        # produce a response in time
                        self.send_error(504, "sync_response timed out")
                        return
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(reply)))
                    self.end_headers()
                    self.wfile.write(reply)
                    return
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_GET(self) -> None:  # noqa: N802
                self.send_error(405)

            def log_message(self, *a) -> None:  # quiet
                pass

        self._httpd = http.server.ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}{self.path}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


@dataclass
class TcpSpoolServer:
    """`socket_server` input: accept TCP connections, spool each
    connection's newline-delimited payload as ONE durable file at
    connection close (reference input_socket_server.go — tcp listener +
    lines scanner; the udp/unix families share the semantics).

    Same spool-bridge rationale as HttpSpoolServer: a push socket can
    never be a replayable Structured Streaming source, so durability
    happens at the listener and the stream is a plain file source with its
    offset-log guarantees. Connection == batch: the file becomes visible
    (atomic rename) only after the sender closes, so the file source never
    reads a half-sent payload. Dev-grade like the reference's (no TLS)."""

    spool_dir: str
    host: str = "127.0.0.1"
    port: int = 0  # 0 = ephemeral
    _server: object = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)

    def start(self) -> "TcpSpoolServer":
        import socketserver

        spool = Spool(self.spool_dir)

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                data = self.rfile.read()
                if data:
                    spool.put(data)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((self.host, self.port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def address(self) -> tuple[str, int]:
        return (self.host, self.port)

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def ws_connect(url: str, *, tls_insecure: bool = False,
               timeout: float = 10.0):
    """RFC 6455 client opening handshake (§4): TCP (+TLS for wss://),
    HTTP upgrade with Sec-WebSocket-Key, 101 + Sec-WebSocket-Accept
    verification. Returns (socket, leftover_bytes) — any bytes the
    server sent after the handshake response belong to the frame
    stream. Shared by the websocket input bridge and output sink."""
    import base64
    import hashlib
    import socket
    import urllib.parse

    u = urllib.parse.urlsplit(url)
    if u.scheme not in ("ws", "wss"):
        raise ValueError(f"websocket supports ws:// and wss:// URLs, got {url!r}")
    host, port = u.hostname or "127.0.0.1", u.port or (443 if u.scheme == "wss" else 80)
    path = (u.path or "/") + (f"?{u.query}" if u.query else "")

    key = base64.b64encode(os.urandom(16)).decode()
    want_accept = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()
    sock = socket.create_connection((host, port), timeout=timeout)
    if u.scheme == "wss":
        # RFC 6455 §4.1 step 3: TLS before the opening handshake
        import ssl

        ctx = ssl.create_default_context()
        if tls_insecure:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        sock = ctx.wrap_socket(sock, server_hostname=host)
    sock.sendall(
        (
            f"GET {path} HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    reader = SocketReader(sock, "websocket handshake")
    head, rest = reader.line(b"\r\n\r\n"), bytes(reader.buf)
    lines = head.decode("latin-1").split("\r\n")
    if " 101 " not in lines[0] + " ":
        raise ConnectionError(f"websocket handshake rejected: {lines[0]!r}")
    hdrs = {k.strip().lower(): v.strip() for k, _, v in
            (ln.partition(":") for ln in lines[1:])}
    if hdrs.get("sec-websocket-accept") != want_accept:
        raise ConnectionError("websocket handshake: bad Sec-WebSocket-Accept")
    return sock, rest


def client_frame(opcode: int, payload: bytes, mask_key: bytes) -> bytes:
    """One masked client->server websocket frame (RFC 6455 §5.2-5.3)."""
    n = len(payload)
    head = bytes([0x80 | opcode])
    if n < 126:
        head += bytes([0x80 | n])
    elif n < 1 << 16:
        head += bytes([0x80 | 126]) + n.to_bytes(2, "big")
    else:
        head += bytes([0x80 | 127]) + n.to_bytes(8, "big")
    masked = bytes(b ^ mask_key[i % 4] for i, b in enumerate(payload))
    return head + mask_key + masked


def websocket_bridge(url: str, spool_dir: str, open_message: str | None = None,
                     tls_insecure: bool = False) -> Bridge:
    """`websocket` input: connect to a ws:// URL as a client, spool each
    received text/binary message as one durable file (reference
    internal/impl/io/input_websocket.go: url + optional open_message).

    Dependency-free RFC 6455 client over stdlib sockets: handshake
    (Sec-WebSocket-Key/-Accept, §4), frame parsing with extended lengths
    (§5.2), ping->pong keepalive (§5.5.2-5.5.3), client-side masking (§5.3;
    server frames arrive unmasked). Fragmented messages (FIN=0)
    re-assemble before spooling. A close frame is a dropped connection;
    a masked server frame is a protocol violation that fails the bridge
    (§5.1). `tls_insecure` (input_websocket.go's tls.skip_cert_verify)
    trusts any wss:// chain: in-process test servers and private CAs."""

    def connect() -> SocketReader:
        sock, rest = ws_connect(url, tls_insecure=tls_insecure)
        if open_message is not None:
            sock.sendall(client_frame(0x1, open_message.encode(), os.urandom(4)))
        sock.settimeout(None)  # an idle subscriber blocks on push traffic
        return SocketReader(sock, "websocket", rest)

    def close(reader: SocketReader) -> None:
        try:
            reader.sock.sendall(client_frame(0x8, b"", os.urandom(4)))
        except OSError:
            pass
        hang_up(reader.sock)

    def messages(reader: SocketReader, stop):
        fragments: list[bytes] = []
        while True:
            b0, b1 = reader.exact(2)
            fin, opcode = b0 & 0x80, b0 & 0x0F
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(reader.exact(2), "big")
            elif n == 127:
                n = int.from_bytes(reader.exact(8), "big")
            if b1 & 0x80:
                # a masked server->client frame is a protocol error the
                # client MUST fail the connection on (§5.1): spooling it
                # (even unmasked) would feed a non-conforming peer's bytes
                # into the pipeline
                raise ValueError("websocket: masked server frame (RFC 6455 §5.1)")
            payload = reader.exact(n)
            if opcode == 0x9:  # ping -> pong with same payload
                reader.sock.sendall(client_frame(0xA, payload, os.urandom(4)))
            elif opcode == 0x8:
                raise ConnectionError("websocket: the server closed the connection")
            elif opcode in (0x1, 0x2, 0x0):
                fragments.append(payload)
                if fin:
                    yield b"".join(fragments), {}, None
                    fragments = []

    return Bridge("websocket", spool_dir, connect, messages, close=close)


def http_poll_bridge(url: str, spool_dir: str, interval_s: float = 1.0,
                     method: str = "GET", headers: dict | None = None,
                     drop_empty: bool = True, drop_repeats: bool = False) -> Bridge:
    """`http_client` input: poll a URL on an interval and spool each
    response body as one durable file (reference
    internal/impl/io/input_http_client.go: GET-per-interval with an
    optional payload; streaming codecs apply downstream). A failed poll
    is a dropped connection, retried with the bridge's backoff.

    Spool-bridge rationale as above: polling is a side effect, the stream
    is the replayable file source. Dedup of identical consecutive
    responses is opt-in (`drop_repeats`, the reference's drop_empty
    cousin): pollers against mostly-static endpoints would otherwise spool
    one copy per tick."""
    import urllib.request

    last = {"body": None}

    def messages(_client, stop):
        while not stop.is_set():
            req = urllib.request.Request(url, method=method, headers=headers or {})
            with urllib.request.urlopen(req, timeout=10) as resp:
                body = resp.read()
            if (body or not drop_empty) and not (drop_repeats and body == last["body"]):
                last["body"] = body
                yield body, {}, None
            stop.wait(interval_s)

    return Bridge("http_client", spool_dir, lambda: None, messages)


class HttpServeOutput:
    """`http_server` OUTPUT (io/output_http_server.go:147): an HTTP
    server that hands the stream's messages to pulling clients. Three
    GET endpoints: `path` serves ONE message per request (or 408 after
    `timeout` with nothing queued), `stream_path` a continuous
    line-delimited stream, `ws_path` a websocket push (server frames
    unmasked, RFC 6455 §5.1). Each message goes to exactly one consumer
    (the reference's shared-queue behavior).

    Driver-side control-plane bridge, same honest scoping as the spool
    consumers: the reference holds pending messages in one process's
    memory too — this is a serving endpoint, not a bulk sink. The queue
    is BOUNDED; `push` blocks when consumers lag, which backpressures
    the foreachBatch writer (Bento's in-flight cap). A message whose
    send fails mid-write is re-queued best-effort.

    Documented delta: multi-row batches serve as successive single
    messages rather than one RFC1341 multipart body (the reference
    suggests archiving batches to override multipart anyway)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 path: str = "/get", stream_path: str = "/get/stream",
                 ws_path: str = "/get/ws", timeout_s: float = 5.0,
                 maxsize: int = 1024):
        import queue as _queue

        self.host, self.port = host, port
        self.path, self.stream_path, self.ws_path = path, stream_path, ws_path
        self.timeout_s = timeout_s
        self._q: "_queue.Queue[str]" = _queue.Queue(maxsize)
        self._stop = threading.Event()
        self._sock = None
        self._threads: list[threading.Thread] = []

    @property
    def address(self) -> str:
        return f"http://{self.host}:{self.port}"

    def push(self, body: str) -> None:
        while not self._stop.is_set():
            try:
                self._q.put(body, timeout=0.5)
                return
            except Exception:
                continue

    def pending(self) -> int:
        return self._q.qsize()

    # -- server ------------------------------------------------------------
    def start(self) -> "HttpServeOutput":
        import socket

        s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        s.bind((self.host, self.port))
        s.listen(16)
        self.port = s.getsockname()[1]
        self._sock = s
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        import socket

        self._stop.set()
        if self._sock is not None:
            # shutdown wakes the blocked accept(); close alone leaves the
            # port listening until the next connection arrives
            try:
                self._sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _addr = self._sock.accept()
            except OSError:
                return
            t = threading.Thread(target=self._handle, args=(conn,), daemon=True)
            t.start()

    @staticmethod
    def _read_head(conn) -> tuple[str, str, dict[str, str]] | None:
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = conn.recv(4096)
            if not chunk:
                return None
            buf += chunk
            if len(buf) > 65536:
                return None
        head = buf.split(b"\r\n\r\n", 1)[0].decode("latin-1")
        lines = head.split("\r\n")
        try:
            method, target, _ = lines[0].split(" ", 2)
        except ValueError:
            return None
        headers = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        return method, target.partition("?")[0], headers

    @staticmethod
    def _resp(code: int, body: bytes = b"",
              extra: dict[str, str] | None = None) -> bytes:
        reason = {200: "OK", 404: "Not Found", 405: "Method Not Allowed",
                  408: "Request Timeout"}.get(code, "")
        hdrs = {"Content-Length": str(len(body)), "Connection": "close",
                **(extra or {})}
        head = f"HTTP/1.1 {code} {reason}\r\n" + "".join(
            f"{k}: {v}\r\n" for k, v in hdrs.items())
        return head.encode("latin-1") + b"\r\n" + body

    def _handle(self, conn) -> None:
        import base64
        import hashlib as _hashlib
        import queue as _queue

        try:
            parsed = self._read_head(conn)
            if parsed is None:
                return
            method, target, headers = parsed
            if method != "GET":
                conn.sendall(self._resp(405))
                return
            if target == self.path:
                try:
                    body = self._q.get(timeout=self.timeout_s).encode()
                except _queue.Empty:
                    conn.sendall(self._resp(408))
                    return
                try:
                    conn.sendall(self._resp(
                        200, body, {"Content-Type": "application/octet-stream"}))
                except OSError:
                    self._requeue(body.decode("utf-8", "replace"))
                return
            if target == self.stream_path:
                conn.sendall(
                    b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
                    b"Transfer-Encoding: chunked\r\n\r\n")
                while not self._stop.is_set():
                    try:
                        msg = self._q.get(timeout=0.25)
                    except _queue.Empty:
                        continue
                    data = msg.encode() + b"\n"
                    chunk = f"{len(data):x}\r\n".encode() + data + b"\r\n"
                    try:
                        conn.sendall(chunk)
                    except OSError:
                        self._requeue(msg)
                        return
                try:
                    conn.sendall(b"0\r\n\r\n")
                except OSError:
                    pass
                return
            if (target == self.ws_path
                    and headers.get("upgrade", "").lower() == "websocket"):
                key = headers.get("sec-websocket-key", "")
                accept = base64.b64encode(_hashlib.sha1(
                    (key + _WS_GUID).encode()).digest()).decode()
                conn.sendall(
                    ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                     f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}"
                     "\r\n\r\n").encode())
                while not self._stop.is_set():
                    try:
                        msg = self._q.get(timeout=0.25)
                    except _queue.Empty:
                        continue
                    data = msg.encode()
                    n = len(data)
                    if n < 126:
                        frame = bytes([0x81, n]) + data
                    elif n < 1 << 16:
                        frame = bytes([0x81, 126]) + n.to_bytes(2, "big") + data
                    else:
                        frame = bytes([0x81, 127]) + n.to_bytes(8, "big") + data
                    try:
                        conn.sendall(frame)
                    except OSError:
                        self._requeue(msg)
                        return
                return
            conn.sendall(self._resp(404))
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _requeue(self, msg: str) -> None:
        try:
            self._q.put_nowait(msg)
        except Exception:
            pass  # full queue: best-effort, like a response to a dead request


def http_serve_sink(server: HttpServeOutput, content_col: str | None = None):
    """foreachBatch writer for output.http_server: bodies render JVM-side
    (content_col as string, else the row as JSON minus engine columns);
    toLocalIterator keeps the batch off the driver heap; push blocks on a
    full queue (backpressure). At-least-once under replay — a replayed
    micro-batch re-serves its messages, the reference's delivery level."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        if content_col is not None:
            body = F.col(content_col).cast("string")
        else:
            doc = [c for c in batch_df.columns if c not in ("error", "meta")]
            body = F.to_json(F.struct(*[F.col(c) for c in doc]))
        for row in batch_df.select(body.alias("_b")).toLocalIterator():
            if row._b is not None:
                server.push(row._b)

    write_batch.close = server.stop  # the server lives as long as the writer
    return write_batch
