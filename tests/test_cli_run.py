"""`python -m bento_spark run` and jobs/run_pipeline.py drive a
spool-bridge input end to end: they start the input's bridge for the run,
fail the run when the bridge fails, and stop the bridge and release the
output afterwards. Plus the run_stream error for an output section with
nothing to write to."""

from __future__ import annotations

import importlib.util
import json
import os
import socket
import sys
import threading
from pathlib import Path

import pytest

from bento_spark.__main__ import main
from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.sink import IdempotentParquetSink

LINES = ["alpha", "beta", "gamma"]


def test_run_starts_the_input_bridge(spark, tmp_path):
    cfg = tmp_path / "run.yaml"
    cfg.write_text(f"""
input:
  subprocess:
    name: {sys.executable}
    args: ["-c", "for w in {LINES!r}: print(w)"]
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
  trigger: 500 ms
""")
    assert main(["run", "-c", str(cfg), "--checkpoint", str(tmp_path / "ck"),
                 "--continuous", "--timeout", "30"]) == 0
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.value for r in rows) == LINES


def test_run_exits_nonzero_when_the_bridge_fails(spark, tmp_path, capsys):
    """A broker that answers the subscription, then sends a packet whose
    remaining length does not decode: the bridge fails (not a transport
    fault, so no reconnect), and the continuous run stops at once with
    the input and the cause."""
    from bento_spark.streaming.mqtt import CONNACK, SUBACK, encode_packet, read_packet

    srv = socket.create_server(("127.0.0.1", 0))

    def broker() -> None:
        conn, _ = srv.accept()
        with conn:
            read_packet(conn)  # CONNECT
            conn.sendall(encode_packet(CONNACK, 0, b"\x00\x00"))
            _, _, sub = read_packet(conn)  # SUBSCRIBE
            conn.sendall(encode_packet(SUBACK, 0, sub[:2] + b"\x01"))
            conn.sendall(b"\x30\xff\xff\xff\xff\x01")  # a 5-byte remaining length
            conn.settimeout(30)
            try:
                conn.recv(1)
            except OSError:
                pass

    threading.Thread(target=broker, daemon=True).start()
    cfg = tmp_path / "run.yaml"
    cfg.write_text(f"""
input:
  mqtt:
    urls: [tcp://127.0.0.1:{srv.getsockname()[1]}]
    topics: [t]
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
  trigger: 500 ms
""")
    try:
        rc = main(["run", "-c", str(cfg), "--checkpoint", str(tmp_path / "ck"),
                   "--continuous", "--timeout", "60"])
    finally:
        srv.close()
    err = capsys.readouterr().err
    assert rc != 0
    assert "input mqtt: mqtt: malformed remaining length" in err


def test_run_fails_when_the_bridge_fails_as_the_query_ends(tmp_path, monkeypatch):
    """An available_now query that ends in the same wait step in which the
    bridge fails still fails the run."""
    from bento_spark.streaming.bridge import BridgeFailed

    p = compile_yaml(f"""
input:
  subprocess:
    name: {sys.executable}
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
""")
    bridge = type("FakeBridge", (), {"state": "running", "cause": None,
                                     "stop": lambda self: None})()

    class Query:
        stopped = False

        def awaitTermination(self, timeout):
            bridge.state, bridge.cause = "failed", "bad frame"
            return True

        def stop(self):
            self.stopped = True

    q = Query()
    monkeypatch.setattr(p, "start_bridge", lambda: bridge)
    monkeypatch.setattr(p, "run_stream", lambda *a, **k: q)
    with pytest.raises(BridgeFailed, match="input subprocess: bad frame"):
        p.run(None, checkpoint=str(tmp_path / "ck"))
    assert q.stopped


def _run_pipeline_main():
    path = Path(__file__).resolve().parents[1] / "jobs" / "run_pipeline.py"
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def test_run_pipeline_job_bridges_and_releases(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_pipeline.py starts the subprocess input's bridge, so its
    lines arrive, and closes the subprocess output, so its child has
    exited when main returns."""
    received, pid_file = tmp_path / "received.jsonl", tmp_path / "child.pid"
    child = (f"import os, sys; open({str(pid_file)!r}, 'w').write(str(os.getpid()))\n"
             f"for line in sys.stdin:\n"
             f"    open({str(received)!r}, 'a').write(line)")
    cfg = tmp_path / "job.yaml"
    cfg.write_text(f"""
input:
  subprocess:
    name: {sys.executable}
    args: ["-c", "for w in {LINES!r}: print(w)"]
    spool_dir: {tmp_path}/spool
output:
  subprocess:
    name: {sys.executable}
    args: ["-c", {json.dumps(child)}]
""")
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--config", str(cfg), "--checkpoint", str(tmp_path / "ck"),
        "--continuous", "--timeout", "20"])
    assert _run_pipeline_main()() == 0
    assert sorted(json.loads(line)["value"] for line in received.read_text().splitlines()) \
        == LINES
    pid = int(pid_file.read_text())
    with pytest.raises(ProcessLookupError):
        os.kill(pid, 0)  # the output's child was closed, and reaped


@pytest.mark.parametrize("output", ["{}", "{dlq: DIR/dlq}"])
def test_run_stream_without_a_sink_names_output_path(spark, tmp_path, output):
    p = compile_yaml(f"""
input:
  parquet: {{path: {tmp_path}/in}}
output: {output.replace("DIR", str(tmp_path))}
""")
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=r"^output\.path .* required for run_stream"):
        p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    assert len(spark.streams.active) == active
