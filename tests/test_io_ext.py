"""io-family connectors (internal/impl/io): subprocess input/output,
socket output (tcp/udp), websocket output, and the dynamic labeled
brokers — all over the real wire/process surfaces."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from bento_spark.plans.compiler import Pipeline, compile_yaml
from bento_spark.streaming.sink import (
    IdempotentParquetSink,
    socket_sink,
    websocket_sink,
)
from bento_spark.streaming.spool import entries
from bento_spark.streaming.subprocess_io import subprocess_bridge, subprocess_sink

PY = sys.executable


# ---------------------------------------------------------------------------
# subprocess input
# ---------------------------------------------------------------------------


def test_subprocess_input_lines(tmp_path):
    sp = subprocess_bridge(
        name=PY,
        args=["-c", "for i in range(5): print(f'line-{i}')"],
        spool_dir=str(tmp_path / "sp"),
    ).start()
    deadline = time.monotonic() + 10
    while not sp.finished:
        assert time.monotonic() < deadline, sp.error
        time.sleep(0.02)
    sp.stop()
    assert sp.error is None
    msgs = sorted(body.decode() for _, body in entries(tmp_path / "sp"))
    assert msgs == [f"line-{i}" for i in range(5)]


def test_subprocess_input_max_buffer(tmp_path):
    sp = subprocess_bridge(
        name=PY, args=["-c", "print('x' * 100)"],
        spool_dir=str(tmp_path / "sp"), max_buffer=16,
    ).start()
    deadline = time.monotonic() + 10
    while not sp.finished:
        assert time.monotonic() < deadline
        time.sleep(0.02)
    sp.stop()
    assert sp.error and "max_buffer" in sp.error


def test_subprocess_input_restart_on_exit(tmp_path):
    sp = subprocess_bridge(
        name=PY, args=["-c", "print('tick')"],
        spool_dir=str(tmp_path / "sp"), restart_on_exit=True,
    ).start()
    deadline = time.monotonic() + 15
    while len(entries(tmp_path / "sp")) < 3:
        assert time.monotonic() < deadline, sp.error
        time.sleep(0.05)
    sp.stop()
    assert sp.restarts >= 2
    assert all(body == b"tick" for _, body in entries(tmp_path / "sp"))


def test_subprocess_input_stderr_logged(tmp_path, capfd):
    sp = subprocess_bridge(
        name=PY,
        args=["-c", "import sys; print('ok'); print('warn!', file=sys.stderr)"],
        spool_dir=str(tmp_path / "sp"),
    ).start()
    deadline = time.monotonic() + 10
    while not sp.finished:
        assert time.monotonic() < deadline
        time.sleep(0.02)
    sp.stop()
    assert "stderr: warn!" in capfd.readouterr().err


def test_yaml_subprocess_input(spark, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  subprocess:
    name: {PY}
    args: ["-c", "for i in range(4): print(__import__('json').dumps({{'i': i}}))"]
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.raw = this.value
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while not sp.finished:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = [json.loads(r.raw) for r in
            IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()]
    assert sorted(m["i"] for m in rows) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# subprocess output
# ---------------------------------------------------------------------------


def test_subprocess_sink_writes_stdin(spark, tmp_path):
    out_file = tmp_path / "lines.txt"
    writer = subprocess_sink(PY, [
        "-c",
        "import sys\n"
        f"f = open({str(out_file)!r}, 'a')\n"
        "for ln in sys.stdin:\n"
        "    f.write(ln); f.flush()\n",
    ])
    df = spark.range(3).select(F.col("id").cast("int").alias("i"))
    writer(df, 0)
    writer.close()
    got = sorted(json.loads(ln)["i"] for ln in
                 out_file.read_text().splitlines())
    assert got == [0, 1, 2]


def test_subprocess_sink_relaunches_dead_child(spark, tmp_path):
    out_file = tmp_path / "lines.txt"
    writer = subprocess_sink(PY, [
        "-c",
        "import sys\n"
        f"f = open({str(out_file)!r}, 'a')\n"
        "for ln in sys.stdin:\n"
        "    f.write(ln); f.flush()\n",
    ])
    df1 = spark.range(2).select(F.col("id").cast("int").alias("i"))
    writer(df1, 0)
    # a line is delivered once flushed to stdin; one the child has not read
    # yet dies with it, so wait until the child has written rows 0 and 1
    deadline = time.monotonic() + 30
    while not (out_file.exists() and out_file.read_text().count("\n") == 2):
        assert time.monotonic() < deadline, "the child did not write the first batch"
        time.sleep(0.01)
    # kill the child between batches: the writer must log exit + relaunch
    proc = writer.state["proc"]
    proc.kill()
    proc.wait()
    df2 = spark.range(2, 4).select(F.col("id").cast("int").alias("i"))
    writer(df2, 1)
    writer.close()
    assert writer.state["proc"] is not proc  # a fresh child took over
    got = sorted(json.loads(ln)["i"] for ln in
                 out_file.read_text().splitlines())
    assert got == [0, 1, 2, 3]


def test_yaml_subprocess_output(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 8)
    out_file = tmp_path / "sunk.txt"
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.clip_id
output:
  subprocess:
    name: {PY}
    args: ["-c", "import sys\\nf = open({str(out_file)!r}, 'a')\\nfor ln in sys.stdin: f.write(ln); f.flush()"]
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(90)
    ids = {json.loads(ln)["clip_id"] for ln in out_file.read_text().splitlines()}
    assert len(ids) == 8


# ---------------------------------------------------------------------------
# socket output
# ---------------------------------------------------------------------------


class _TcpCapture:
    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(32)
        self.port = self.sock.getsockname()[1]
        self.lines: list[str] = []
        self._lock = threading.Lock()
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self):
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            threading.Thread(target=self._drain, args=(conn,),
                             daemon=True).start()

    def _drain(self, conn):
        buf = b""
        while True:
            try:
                chunk = conn.recv(65536)
            except OSError:
                break
            if not chunk:
                break
            buf += chunk
        with self._lock:
            self.lines.extend(buf.decode().splitlines())

    def close(self):
        self.sock.close()


def test_socket_sink_tcp(spark, tmp_path):
    srv = _TcpCapture()
    try:
        df = spark.range(6).select(F.col("id").cast("int").alias("i"))
        socket_sink("tcp", f"127.0.0.1:{srv.port}")(df, 0)
        deadline = time.monotonic() + 10
        while len(srv.lines) < 6 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        srv.close()
    assert sorted(json.loads(ln)["i"] for ln in srv.lines) == list(range(6))


def test_socket_sink_udp(spark):
    rx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]
    got: list[str] = []

    def drain():
        try:
            while len(got) < 4:
                data, _ = rx.recvfrom(65536)
                got.extend(data.decode().splitlines())
        except OSError:
            pass

    t = threading.Thread(target=drain, daemon=True)
    t.start()
    df = spark.range(4).select(F.col("id").cast("int").alias("i"))
    socket_sink("udp", f"127.0.0.1:{port}")(df, 0)
    t.join(timeout=8)
    rx.close()
    assert sorted(json.loads(ln)["i"] for ln in got) == list(range(4))


def test_socket_sink_bad_network():
    with pytest.raises(ValueError, match="tcp/udp/unix"):
        socket_sink("sctp", "x:1")


def test_yaml_socket_output(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 8)
    srv = _TcpCapture()
    try:
        p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.clip_id
output:
  socket:
    network: tcp
    address: 127.0.0.1:{srv.port}
""")
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(90)
        deadline = time.monotonic() + 10
        while len(srv.lines) < 8 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        srv.close()
    assert len({json.loads(ln)["clip_id"] for ln in srv.lines}) == 8


# ---------------------------------------------------------------------------
# websocket output
# ---------------------------------------------------------------------------


class _WsCapture:
    """RFC 6455 server capturing client text frames (which MUST be
    masked, §5.1) until the close frame."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(32)
        self.port = self.sock.getsockname()[1]
        self.messages: list[str] = []
        self._lock = threading.Lock()
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self):
        import base64
        import hashlib

        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            buf = b""
            while b"\r\n\r\n" not in buf:
                buf += conn.recv(4096)
            head = buf.split(b"\r\n\r\n")[0].decode()
            key = next(ln.split(":", 1)[1].strip() for ln in head.split("\r\n")
                       if ln.lower().startswith("sec-websocket-key"))
            accept = base64.b64encode(hashlib.sha1(
                (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
            ).digest()).decode()
            conn.sendall((
                "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n"
            ).encode())
            threading.Thread(target=self._frames, args=(conn,),
                             daemon=True).start()

    def _frames(self, conn):
        def read_exact(n):
            out = b""
            while len(out) < n:
                chunk = conn.recv(n - len(out))
                if not chunk:
                    raise ConnectionError("closed")
                out += chunk
            return out

        try:
            while True:
                b0, b1 = read_exact(2)
                opcode, n = b0 & 0x0F, b1 & 0x7F
                assert b1 & 0x80, "client frames must be masked"
                if n == 126:
                    n = int.from_bytes(read_exact(2), "big")
                elif n == 127:
                    n = int.from_bytes(read_exact(8), "big")
                mask = read_exact(4)
                payload = bytes(b ^ mask[i % 4]
                                for i, b in enumerate(read_exact(n)))
                if opcode == 0x8:
                    return
                if opcode == 0x1:
                    with self._lock:
                        self.messages.append(payload.decode())
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    def close(self):
        self.sock.close()


def test_websocket_sink(spark):
    srv = _WsCapture()
    try:
        df = spark.range(5).select(F.col("id").cast("int").alias("i"))
        websocket_sink(f"ws://127.0.0.1:{srv.port}/hook")(df, 0)
        deadline = time.monotonic() + 10
        while len(srv.messages) < 5 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        srv.close()
    assert sorted(json.loads(m)["i"] for m in srv.messages) == list(range(5))


def test_yaml_websocket_output(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 6)
    srv = _WsCapture()
    try:
        p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.clip_id
output:
  websocket:
    url: ws://127.0.0.1:{srv.port}/sink
""")
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(90)
        deadline = time.monotonic() + 10
        while len(srv.messages) < 6 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        srv.close()
    assert len({json.loads(m)["clip_id"] for m in srv.messages}) == 6


# ---------------------------------------------------------------------------
# dynamic brokers
# ---------------------------------------------------------------------------


def test_dynamic_input_fan_in(spark):
    p = compile_yaml("""
input:
  dynamic:
    inputs:
      foo: {generate_clips: {count: 8}}
      bar: {generate_clips: {count: 8, seed: 7}}
""")
    out = p.build_batch(spark)
    rows = out.collect()
    assert len(rows) == 16
    assert {r._dynamic_label for r in rows} == {"foo", "bar"}


def test_dynamic_input_empty_raises(spark):
    with pytest.raises(ValueError, match="empty"):
        compile_yaml("input:\n  dynamic: {inputs: {}}\n").build_batch(spark)


def test_dynamic_output_fan_out(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 10)
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
output:
  dynamic:
    outputs:
      first: {tmp_path}/out_a
      second: {tmp_path}/out_b
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(90)
    a = IdempotentParquetSink(str(tmp_path / "out_a")).read(spark)
    b = IdempotentParquetSink(str(tmp_path / "out_b")).read(spark)
    assert a.count() == 10 and b.count() == 10  # fan_out: every output gets all
    assert sorted(r.clip_id for r in a.collect()) == sorted(
        r.clip_id for r in b.collect())


def test_lint_knows_new_io():
    from bento_spark.plans.lint import known_inputs

    ki = known_inputs()
    assert "subprocess" in ki and "dynamic" in ki
