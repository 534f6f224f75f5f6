"""NSQ connector (reference internal/impl/nsq/{input,output}.go): V2
protocol client, channel-copy/subscriber-distribution semantics, spool
bridge with FIN-after-durability, redelivery on consumer drop, and YAML
e2e — all against the in-process MiniNsqServer."""

from __future__ import annotations

import json
import threading
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.nsq import (
    MiniNsqServer,
    NsqClient,
    nsq_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniNsqServer().start()
    yield s
    s.stop()


# --------------------------------------------------------------------------
# protocol
# --------------------------------------------------------------------------


def test_pub_sub_fin_roundtrip(server):
    sub = NsqClient(server.host, server.port)
    sub.sub("orders", "workers")
    sub.rdy(10)
    pub = NsqClient(server.host, server.port)
    for i in range(3):
        pub.pub("orders", f"m{i}".encode())
    got = []
    for _ in range(3):
        ts, attempts, msg_id, body = sub.recv_msg()
        assert attempts == 1 and len(msg_id) == 16
        got.append(body)
        sub.fin(msg_id)
    assert got == [b"m0", b"m1", b"m2"]
    pub.close()
    sub.close()


def test_channel_gets_copy_after_subscribe_only(server):
    """Messages published BEFORE any channel exists are dropped (nsqd
    semantics for ephemeral state without a channel); each existing
    channel gets a COPY."""
    pub = NsqClient(server.host, server.port)
    pub.pub("t", b"early")  # no channels yet -> dropped
    s1 = NsqClient(server.host, server.port)
    s1.sub("t", "ch1")
    s1.rdy(5)
    s2 = NsqClient(server.host, server.port)
    s2.sub("t", "ch2")
    s2.rdy(5)
    pub.pub("t", b"fanout")
    for s in (s1, s2):
        _ts, _a, mid, body = s.recv_msg()
        assert body == b"fanout"
        s.fin(mid)
    pub.close()
    s1.close()
    s2.close()


def test_req_redelivers_with_attempts(server):
    sub = NsqClient(server.host, server.port)
    sub.sub("t", "ch")
    sub.rdy(1)
    pub = NsqClient(server.host, server.port)
    pub.pub("t", b"retry-me")
    _ts, attempts, mid, _body = sub.recv_msg()
    assert attempts == 1
    sub.req(mid)
    sub.rdy(1)
    _ts, attempts, mid2, body = sub.recv_msg()
    assert attempts == 2 and mid2 == mid and body == b"retry-me"
    sub.fin(mid2)
    pub.close()
    sub.close()


def test_dropped_consumer_requeues_inflight(server):
    sub = NsqClient(server.host, server.port)
    sub.sub("t", "ch")
    sub.rdy(1)
    pub = NsqClient(server.host, server.port)
    pub.pub("t", b"orphan")
    _ts, _a, _mid, body = sub.recv_msg()
    assert body == b"orphan"
    sub.sock.close()  # die without FIN
    time.sleep(0.1)
    sub2 = NsqClient(server.host, server.port)
    sub2.sub("t", "ch")
    sub2.rdy(1)
    _ts, attempts, mid, body = sub2.recv_msg()
    assert body == b"orphan" and attempts == 2  # redelivered
    sub2.fin(mid)
    pub.close()
    sub2.close()


# --------------------------------------------------------------------------
# spooler
# --------------------------------------------------------------------------


def test_spooler_rdy_refresh_beyond_max_in_flight(server, tmp_path):
    """More messages than max_in_flight must all arrive — the RDY
    allowance is refreshed after each FIN."""
    spool = tmp_path / "spool"
    sp = nsq_bridge(server.host, server.port, "bulk", "ch", str(spool),
                    max_in_flight=2).start()
    try:
        pub = NsqClient(server.host, server.port)
        for i in range(7):
            pub.pub("bulk", f"b{i}".encode())
        pub.close()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(entries(spool)) < 7:
            time.sleep(0.05)
        got = entries(spool)
        assert [body for _, body in got] == [f"b{i}".encode() for i in range(7)]
        # id + attempts + timestamp ride the spool header
        assert got[0][0]["nsq_attempts"] == 1
    finally:
        sp.stop()


# --------------------------------------------------------------------------
# YAML e2e
# --------------------------------------------------------------------------


def test_yaml_nsq_input_end_to_end(server, spark, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  nsq:
    nsqd_tcp_addresses: ["{server.host}:{server.port}"]
    topic: sensor
    channel: spark
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.attempts = this.nsq_attempts
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        pub = NsqClient(server.host, server.port)
        pub.pub("sensor", b"warm")
        pub.pub("sensor", b"cold")
        pub.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        (r.body, r.attempts)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("COLD", 1), ("WARM", 1)]


def test_yaml_nsq_output(server, spark, tmp_path):
    got: list[bytes] = []
    sub = NsqClient(server.host, server.port)
    sub.sub("sunk", "drain")
    sub.rdy(10)

    def drain() -> None:
        while True:
            try:
                _ts, _a, mid, body = sub.recv_msg()
            except (ConnectionError, OSError):
                return
            got.append(body)
            sub.fin(mid)

    t = threading.Thread(target=drain, daemon=True)
    t.start()

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  nsq:
    nsqd_tcp_address: {server.host}:{server.port}
    topic: sunk
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(got) < 3:
        assert time.monotonic() < deadline, f"only {len(got)} messages arrived"
        time.sleep(0.05)
    sub.close()
    t.join(timeout=5)
    assert sorted(json.loads(g)["line"] for g in got) == ["r1", "r2", "r3"]


def test_lint_knows_nsq():
    from bento_spark.plans.lint import known_inputs

    assert "nsq" in known_inputs()
