"""http_server input tests: spool-dir bridge — live POSTs become stream
rows with the file source's replay guarantees intact."""

from __future__ import annotations

import http.client

from pyspark.sql import functions as F

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.sink import IdempotentParquetSink
from bento_spark.streaming.spool import entries


def _post(host: str, port: int, path: str, body: bytes) -> int:
    conn = http.client.HTTPConnection(host, port, timeout=5)
    try:
        conn.request("POST", path, body=body)
        return conn.getresponse().status
    finally:
        conn.close()


def test_http_server_ingest_end_to_end(spark, tmp_path):
    spool = str(tmp_path / "spool")
    p = compile_yaml(
        f"""
input:
  http_server:
    spool_dir: {spool}
    path: /ingest
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
output:
  path: {tmp_path}/out
"""
    )
    srv = p.start_bridge()
    try:
        assert srv.url.endswith("/ingest")
        for body in (b"alpha", b"beta\nwith two lines", b"gamma"):
            assert _post(srv.host, srv.port, "/ingest", body) == 200
        # protocol checks mirroring the reference endpoint behavior
        assert _post(srv.host, srv.port, "/wrong", b"x") == 404
        conn = http.client.HTTPConnection(srv.host, srv.port, timeout=5)
        conn.request("GET", "/ingest")
        assert conn.getresponse().status == 405
        conn.close()

        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        srv.stop()
    out = IdempotentParquetSink(str(tmp_path / "out")).read(spark)
    rows = sorted(r.body for r in out.select("body").collect())
    # whole_body=True: one row per request, line breaks preserved
    assert rows == ["ALPHA", "BETA\nWITH TWO LINES", "GAMMA"]


def test_http_server_batch_mode_raises(spark, tmp_path):
    p = compile_yaml(
        f"""
input:
  http_server:
    spool_dir: {tmp_path}/spool2
"""
    )
    try:
        p.build_batch(spark)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "streaming-only" in str(e)


def test_http_server_resume_sees_no_duplicates(spark, tmp_path):
    """Bodies posted between two availableNow runs are picked up exactly
    once — the file-source offset log survives across runs."""
    spool = str(tmp_path / "spool3")
    cfg = f"""
input:
  http_server:
    spool_dir: {spool}
output:
  path: {tmp_path}/out3
"""
    p = compile_yaml(cfg)
    srv = p.start_bridge()
    try:
        assert _post(srv.host, srv.port, "/post", b"first") == 200
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ck3"))
        q.awaitTermination(90)
        assert _post(srv.host, srv.port, "/post", b"second") == 200
        p2 = compile_yaml(cfg)
        q2 = p2.run_stream(spark, checkpoint=str(tmp_path / "ck3"))
        q2.awaitTermination(90)
    finally:
        srv.stop()
    out = IdempotentParquetSink(str(tmp_path / "out3")).read(spark)
    assert sorted(r.value for r in out.select("value").collect()) == ["first", "second"]


def test_http_server_requires_content_length(spark, tmp_path):
    """No Content-Length (e.g. chunked transfer) must be refused with 411,
    not acknowledged 200 while the body is dropped."""
    import socket

    from bento_spark.streaming.http_server import HttpSpoolServer

    srv = HttpSpoolServer(spool_dir=str(tmp_path / "spool411")).start()
    try:
        s = socket.create_connection((srv.host, srv.port), timeout=5)
        s.sendall(b"POST /post HTTP/1.1\r\nHost: x\r\nTransfer-Encoding: chunked\r\n\r\n")
        status = s.recv(4096).split(b"\r\n", 1)[0]
        s.close()
        assert b"411" in status
        assert not entries(tmp_path / "spool411")
    finally:
        srv.stop()


def test_webhook_subprocess_pipeline_end_to_end(spark, tmp_path):
    """The webhook_subprocess example shape: live POSTs -> spool stream ->
    long-lived child per partition -> exactly-once sink (+DLQ)."""
    import sys

    spool = str(tmp_path / "ws_spool")
    upper = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line.upper()); sys.stdout.flush()\n"
    cfg = f"""
input:
  http_server:
    spool_dir: {spool}
    path: /ingest
pipeline:
  processors:
    - subprocess:
        name: {sys.executable}
        args: ["-u", "-c", "{upper.replace(chr(10), chr(92) + 'n')}"]
        column: value
output:
  path: {tmp_path}/ws_out
  dlq: {tmp_path}/ws_dlq
"""
    p = compile_yaml(cfg)
    srv = p.start_bridge()
    try:
        for body in (b"hello webhook", b"second event"):
            assert _post(srv.host, srv.port, "/ingest", body) == 200
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ws_ck"))
        q.awaitTermination(120)
    finally:
        srv.stop()
    out = IdempotentParquetSink(str(tmp_path / "ws_out")).read(spark)
    got = sorted(r.value for r in out.select("value").collect())
    assert got == ["HELLO WEBHOOK", "SECOND EVENT"]


def test_socket_server_input_e2e(spark, tmp_path):
    """socket_server (input_socket_server.go): TCP listener -> spool bridge
    -> file stream. Connection == batch: payload becomes visible atomically
    at close; lines codec splits rows."""
    import socket

    p = compile_yaml(
        f"""
input:
  socket_server:
    spool_dir: {tmp_path}/sspool
    lines: true
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
output:
  path: {tmp_path}/sout
"""
    )
    srv = p.start_bridge()
    try:
        host, port = srv.address
        for payload in (b"alpha\nbeta\n", b"gamma\n"):
            with socket.create_connection((host, port), timeout=5) as s:
                s.sendall(payload)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "sckpt"))
        q.awaitTermination(90)
    finally:
        srv.stop()
    out = IdempotentParquetSink(str(tmp_path / "sout")).read(spark)
    rows = sorted(r.body for r in out.select("body").collect())
    assert rows == ["ALPHA", "BETA", "GAMMA"]


def test_socket_server_batch_mode_raises(spark, tmp_path):
    p = compile_yaml(
        f"""
input:
  socket_server:
    spool_dir: {tmp_path}/sspool3
"""
    )
    try:
        p.build_batch(spark)
        raise AssertionError("batch mode must raise")
    except ValueError as e:
        assert "streaming-only" in str(e)


def test_http_client_input_polls_to_stream(spark, tmp_path):
    """http_client input (input_http_client.go): interval poller -> spool
    bridge -> file stream; drop_repeats suppresses identical consecutive
    responses."""
    import http.server
    import threading

    bodies = {"n": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):  # noqa: N802
            bodies["n"] += 1
            # two distinct payloads, then repeats of the second
            body = (b'{"tick": 1}' if bodies["n"] == 1 else b'{"tick": 2}')
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    p = compile_yaml(
        f"""
input:
  http_client:
    url: http://127.0.0.1:{port}/feed
    spool_dir: {tmp_path}/pollspool
    interval: 200 ms
    drop_repeats: true
pipeline:
  processors:
    - mapping: |
        root.tick = this.value.parse_json("tick int").tick
output:
  path: {tmp_path}/pollout
"""
    )
    poller = p.start_bridge()
    try:
        import time

        time.sleep(2.5)  # several poll ticks: 1, 2, 2, 2...
    finally:
        poller.stop()
        srv.shutdown()
    q = p.run_stream(spark, checkpoint=str(tmp_path / "pollck"))
    q.awaitTermination(90)
    out = IdempotentParquetSink(str(tmp_path / "pollout")).read(spark)
    ticks = sorted(r.tick for r in out.collect())
    # drop_repeats: exactly one row per DISTINCT consecutive payload
    assert ticks == [1, 2], f"got {ticks}"


def test_http_client_output_posts_rows(spark, tmp_path):
    """http_client output (output_http_client.go): every row lands as one
    JSON POST, executor-side."""
    import http.server
    import json as _json
    import threading

    got: list[dict] = []
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with lock:
                got.append(_json.loads(body))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    src = tmp_path / "postsrc"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string").write.parquet(str(src))
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}, schema: "id int, s string"}}
output:
  http_client:
    url: http://127.0.0.1:{port}/sink
"""
    )
    try:
        q = p.run_stream(spark, checkpoint=str(tmp_path / "postck"))
        q.awaitTermination(90)
    finally:
        srv.shutdown()
    assert sorted(r["id"] for r in got) == [1, 2, 3]
    assert {r["s"] for r in got} == {"a", "b", "c"}


def test_http_client_output_retries_transient_5xx(spark, tmp_path):
    """ADVICE r03: a raise inside foreachBatch fails the QUERY (no in-run
    retry), so the writer must retry per request — a server that 503s the
    first attempt of every body must not kill the stream."""
    import http.server
    import json as _json
    import threading

    got: list[dict] = []
    seen: dict[str, int] = {}
    lock = threading.Lock()

    class Flaky(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with lock:
                k = body.decode()
                seen[k] = seen.get(k, 0) + 1
                first = seen[k] == 1
            if first:
                self.send_response(503)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            with lock:
                got.append(_json.loads(body))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Flaky)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    src = tmp_path / "retrysrc"
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.parquet(str(src))
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}, schema: "id int, s string"}}
output:
  http_client:
    url: http://127.0.0.1:{port}/sink
    backoff: 0.05
"""
    )
    try:
        q = p.run_stream(spark, checkpoint=str(tmp_path / "retryck"))
        q.awaitTermination(90)
        assert q.exception() is None, f"stream died on transient 5xx: {q.exception()}"
    finally:
        srv.shutdown()
    assert sorted(r["id"] for r in got) == [1, 2]
    assert all(n == 2 for n in seen.values())  # one 503 + one success per body


class _WsTestServer:
    """Minimal RFC 6455 SERVER for the websocket-input e2e: handshake
    (§4.2), unmasked server frames (§5.1), ping, fragmentation, close."""

    def __init__(self):
        import socket
        import threading

        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.received_open = None
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    @staticmethod
    def _frame(opcode, payload, fin=True):
        head = bytes([(0x80 if fin else 0) | opcode])
        n = len(payload)
        assert n < 126
        return head + bytes([n]) + payload  # server frames are unmasked

    def _read_client_frame(self, conn):
        b0 = conn.recv(1)[0]
        b1 = conn.recv(1)[0]
        n = b1 & 0x7F
        assert b1 & 0x80, "client frames must be masked"
        mask = conn.recv(4)
        payload = b""
        while len(payload) < n:
            payload += conn.recv(n - len(payload))
        return b0 & 0x0F, bytes(b ^ mask[i % 4] for i, b in enumerate(payload))

    def _serve(self):
        import base64
        import hashlib

        conn, _ = self.sock.accept()
        buf = b""
        while b"\r\n\r\n" not in buf:
            buf += conn.recv(4096)
        head = buf.split(b"\r\n\r\n")[0].decode()
        key = next(ln.split(":", 1)[1].strip() for ln in head.split("\r\n")
                   if ln.lower().startswith("sec-websocket-key"))
        accept = base64.b64encode(
            hashlib.sha1((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()).digest()
        ).decode()
        conn.sendall((
            "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n"
        ).encode())
        # the client sends its open_message first
        op, payload = self._read_client_frame(conn)
        self.received_open = (op, payload)
        # text, ping (expect pong), fragmented text, binary, close
        conn.sendall(self._frame(0x1, b"msg-one"))
        conn.sendall(self._frame(0x9, b"hb"))
        op, pong = self._read_client_frame(conn)
        assert op == 0xA and pong == b"hb", (op, pong)
        conn.sendall(self._frame(0x1, b"frag-", fin=False))
        conn.sendall(self._frame(0x0, b"mented"))
        conn.sendall(self._frame(0x2, b"\x00binary\xff"))
        conn.sendall(self._frame(0x8, b""))
        conn.close()

    def close(self):
        self.sock.close()


class _MaskingWsServer(_WsTestServer):
    """Non-conforming server: after one good frame it sends a MASKED
    server->client frame — RFC 6455 §5.1 requires the client to fail the
    connection, not unmask-and-continue."""

    def _serve(self):
        import base64
        import hashlib

        conn, _ = self.sock.accept()
        buf = b""
        while b"\r\n\r\n" not in buf:
            buf += conn.recv(4096)
        head = buf.split(b"\r\n\r\n")[0].decode()
        key = next(ln.split(":", 1)[1].strip() for ln in head.split("\r\n")
                   if ln.lower().startswith("sec-websocket-key"))
        accept = base64.b64encode(
            hashlib.sha1((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()).digest()
        ).decode()
        conn.sendall((
            "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n"
        ).encode())
        conn.sendall(self._frame(0x1, b"good-one"))
        # masked server frame (protocol violation): set the mask bit + key
        mask = b"\x01\x02\x03\x04"
        payload = b"evil"
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        conn.sendall(bytes([0x81, 0x80 | len(payload)]) + mask + masked)
        conn.sendall(self._frame(0x1, b"after-violation"))  # must never spool
        self.conn = conn


def test_websocket_masked_server_frame_fails_connection(tmp_path):
    import time

    from bento_spark.streaming.http_server import websocket_bridge

    srv = _MaskingWsServer()
    spool = tmp_path / "mspool"
    ws = websocket_bridge(url=f"ws://127.0.0.1:{srv.port}/feed", spool_dir=str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and ws.state == "running":
            time.sleep(0.1)
        assert ws.state == "failed", "reader kept running after violation"
        assert "RFC 6455 §5.1" in ws.cause
        msgs = [body for _, body in entries(spool)]
        assert msgs == [b"good-one"], msgs  # nothing after the violation spooled
    finally:
        ws.stop()
        srv.close()


class _TlsWsServer(_WsTestServer):
    """wss:// twin of _WsTestServer: same conversation over TLS with a
    freshly-generated self-signed certificate."""

    def __init__(self, certdir):
        import socket
        import ssl
        import subprocess
        import threading

        self.cert = f"{certdir}/cert.pem"
        self.key = f"{certdir}/key.pem"
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", self.key, "-out", self.cert, "-days", "1",
             "-subj", "/CN=127.0.0.1"],
            check=True, capture_output=True,
        )
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(self.cert, self.key)
        raw = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        raw.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        raw.bind(("127.0.0.1", 0))
        raw.listen(1)
        self.port = raw.getsockname()[1]
        self.sock = ctx.wrap_socket(raw, server_side=True)
        self.received_open = None
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self):
        import ssl

        # a client that (correctly) rejects the self-signed cert aborts the
        # server-side handshake inside accept() — expected in the
        # verification-default test, so swallow it instead of leaving an
        # unhandled-thread SSL warning in pytest output
        try:
            super()._serve()
        except (ssl.SSLError, OSError):
            pass


def test_websocket_wss_tls_handshake(tmp_path):
    """wss:// over an in-process TLS server (RFC 6455 §4.1: TLS first,
    then the opening handshake); tls_insecure trusts the self-signed
    chain like the reference's skip_cert_verify."""
    import time

    from bento_spark.streaming.http_server import websocket_bridge

    srv = _TlsWsServer(str(tmp_path))
    spool = tmp_path / "tls_spool"
    ws = websocket_bridge(
        url=f"wss://127.0.0.1:{srv.port}/feed", spool_dir=str(spool),
        open_message="hello-tls", tls_insecure=True,
    ).start()
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            if len(entries(spool)) >= 3:
                break
            time.sleep(0.2)
        assert srv.received_open == (0x1, b"hello-tls")
        msgs = [body for _, body in entries(spool)]
        assert b"msg-one" in msgs and b"frag-mented" in msgs
    finally:
        ws.stop()
        srv.close()


def test_websocket_wss_verifies_by_default(tmp_path):
    """Without tls_insecure the self-signed chain must be REJECTED — the
    default posture is verification, matching ssl.create_default_context."""
    import ssl

    import pytest

    from bento_spark.streaming.http_server import websocket_bridge

    srv = _TlsWsServer(str(tmp_path))
    try:
        with pytest.raises((ssl.SSLError, ConnectionError, OSError)):
            websocket_bridge(
                url=f"wss://127.0.0.1:{srv.port}/feed",
                spool_dir=str(tmp_path / "nospool"),
            ).start()
    finally:
        srv.close()


def test_websocket_input_e2e(spark, tmp_path):
    """websocket input (input_websocket.go): RFC 6455 client handshake,
    ping->pong, fragment re-assembly, close — messages land in the spool
    and flow as a stream."""
    import time

    srv = _WsTestServer()
    p = compile_yaml(
        f"""
input:
  websocket:
    url: ws://127.0.0.1:{srv.port}/feed
    spool_dir: {tmp_path}/wspool
    open_message: subscribe-please
pipeline:
  processors:
    - mapping: |
        root.body = this.value
output:
  path: {tmp_path}/wsout
"""
    )
    ws = p.start_bridge()
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            if len(entries(tmp_path / "wspool")) >= 3:
                break
            time.sleep(0.2)
        assert srv.received_open == (0x1, b"subscribe-please")
        q = p.run_stream(spark, checkpoint=str(tmp_path / "wsck"))
        q.awaitTermination(90)
    finally:
        ws.stop()
        srv.close()
    out = IdempotentParquetSink(str(tmp_path / "wsout")).read(spark)
    rows = sorted(r.body for r in out.select("body").collect())
    # 3 messages: plain text, re-assembled fragments, binary (UTF-8-lossy
    # through the text source — payload fidelity is covered at spool level)
    assert len(rows) == 3
    assert "msg-one" in rows and "frag-mented" in rows


def test_sync_response_end_to_end(spark, tmp_path):
    """output.sync_response: the processed row answers the originating
    POST (output_sync_response.go:15). The POST blocks in a background
    thread until the streaming query routes its reply file."""
    import threading
    import time
    from pathlib import Path

    spool = tmp_path / "sync_spool"
    p = compile_yaml(
        f"""
input:
  http_server:
    spool_dir: {spool}
    path: /rpc
    sync: true
    sync_timeout: 60
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
output:
  sync_response:
    content: body
"""
    )
    srv = p.start_bridge()
    results: dict[str, tuple[int, bytes]] = {}

    def rpc(name: str, payload: bytes) -> None:
        conn = http.client.HTTPConnection(srv.host, srv.port, timeout=90)
        try:
            conn.request("POST", "/rpc", body=payload)
            r = conn.getresponse()
            results[name] = (r.status, r.read())
        finally:
            conn.close()

    threads = [
        threading.Thread(target=rpc, args=("a", b"hello")),
        threading.Thread(target=rpc, args=("b", b"spark streams")),
    ]
    try:
        for t in threads:
            t.start()
        # both requests must be spooled before the bounded query starts
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline, "requests never spooled"
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_sync"))
        q.awaitTermination(90)
        for t in threads:
            t.join(timeout=60)
    finally:
        srv.stop()
    assert results["a"] == (200, b"HELLO")
    assert results["b"] == (200, b"SPARK STREAMS")
    # reply files are consumed on delivery
    assert list(Path(str(spool) + "_resp").glob("*.resp")) == []


def test_sync_response_timeout_and_guards(spark, tmp_path):
    spool = tmp_path / "sync_spool_to"
    p = compile_yaml(
        f"""
input:
  http_server:
    spool_dir: {spool}
    sync: true
    sync_timeout: 0.3
output:
  sync_response: {{}}
"""
    )
    srv = p.start_bridge()
    try:
        # no query running -> the gateway answers 504 after sync_timeout
        assert _post(srv.host, srv.port, "/post", b"orphan") == 504
    finally:
        srv.stop()
    # sync_response without a sync http_server input is a config error
    p2 = compile_yaml(
        f"""
input:
  http_server:
    spool_dir: {spool}
output:
  sync_response: {{}}
"""
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sync: true"):
        p2.run_stream(spark, checkpoint=str(tmp_path / "ckpt_sync_to"))
