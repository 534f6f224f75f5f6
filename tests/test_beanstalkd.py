"""Beanstalkd connector (reference internal/impl/beanstalkd/
{input,output}.go): text-protocol client, priority ordering, TTR/crash
re-release, spool bridge with delete-after-durability, and YAML e2e —
all against the in-process MiniBeanstalkdServer."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.beanstalkd import (
    BeanstalkdClient,
    MiniBeanstalkdServer,
    beanstalkd_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniBeanstalkdServer().start()
    yield s
    s.stop()


def test_put_reserve_delete_roundtrip(server):
    c = BeanstalkdClient(server.host, server.port)
    try:
        jid = c.put(b"job-1")
        assert jid == 1
        got = c.reserve(1)
        assert got == (1, b"job-1")
        assert c.delete(1) is True
        assert c.delete(1) is False
        assert c.reserve(0) is None  # TIMED_OUT on empty tube
    finally:
        c.close()


def test_priority_ordering(server):
    c = BeanstalkdClient(server.host, server.port)
    try:
        c.put(b"low", priority=10)
        c.put(b"high", priority=1)
        c.put(b"mid", priority=5)
        order = []
        for _ in range(3):
            jid, body = c.reserve(1)
            order.append(body)
            c.delete(jid)
        assert order == [b"high", b"mid", b"low"]  # smaller pri first
    finally:
        c.close()


def test_release_requeues(server):
    c = BeanstalkdClient(server.host, server.port)
    try:
        c.put(b"again")
        jid, _ = c.reserve(1)
        assert c.release(jid) is True
        jid2, body = c.reserve(1)
        assert jid2 == jid and body == b"again"
        c.delete(jid2)
    finally:
        c.close()


def test_dropped_consumer_requeues_reserved(server):
    c = BeanstalkdClient(server.host, server.port)
    c.put(b"orphan")
    worker = BeanstalkdClient(server.host, server.port)
    assert worker.reserve(1) == (1, b"orphan")
    worker.sock.close()  # die without delete
    time.sleep(0.1)
    got = c.reserve(1)
    assert got == (1, b"orphan")  # re-released to the tube
    c.delete(1)
    c.close()


def test_spooler_acks_after_durability(server, tmp_path):
    spool = tmp_path / "spool"
    pub = BeanstalkdClient(server.host, server.port)
    for i in range(5):
        pub.put(f"j{i}".encode())
    sp = beanstalkd_bridge(server.host, server.port, str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(entries(spool)) < 5:
            time.sleep(0.05)
        assert [body for _, body in entries(spool)] == [f"j{i}".encode() for i in range(5)]
        # all jobs deleted from the tube after spooling
        assert pub.reserve(0) is None
    finally:
        sp.stop()
        pub.close()


def _until(pred, what: str, timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        assert time.monotonic() < deadline, what
        time.sleep(0.05)


def test_bridge_rides_out_a_server_restart(tmp_path):
    """Kill the server mid-stream and start a new one on the same port:
    the bridge reconnects, and every job put once it is running again
    reaches the spool."""
    first = MiniBeanstalkdServer().start()
    host, port = first.host, first.port
    spool = tmp_path / "spool"
    sp = beanstalkd_bridge(host, port, str(spool)).start()
    second = None
    try:
        pub = BeanstalkdClient(host, port)
        pub.put(b"before")
        pub.close()
        _until(lambda: len(entries(spool)) == 1, "first job not spooled")
        first.stop()
        _until(lambda: sp.state == "reconnecting", "bridge did not see the server go")
        second = MiniBeanstalkdServer(port=port).start()
        _until(lambda: sp.state == "running", f"bridge did not reconnect: {sp.cause}")
        pub = BeanstalkdClient(host, port)
        for i in range(3):
            pub.put(f"after-{i}".encode())
        _until(lambda: len(entries(spool)) == 4, "jobs after the restart not spooled")
        assert pub.reserve(0) is None  # all deleted: acked after the put
        pub.close()
    finally:
        sp.stop()
        if second is not None:
            second.stop()
    assert [body for _, body in entries(spool)] == [
        b"before", b"after-0", b"after-1", b"after-2"]
    assert sp.restarts >= 1 and sp.error is None


def test_yaml_beanstalkd_roundtrip(server, spark, tmp_path):
    """lines -> output.beanstalkd, then input.beanstalkd -> parquet: the
    full queue round-trip through both YAML sections."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p_out = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  beanstalkd:
    address: {server.address}
""")
    q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)

    spool = tmp_path / "spool_in"
    p_in = compile_yaml(f"""
input:
  beanstalkd:
    address: {server.address}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.line = this.value.parse_json("line string").line.uppercase()
        root.jid = this.beanstalkd_id
output:
  path: {tmp_path}/out
""")
    sp = p_in.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p_in.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.line for r in rows) == ["R1", "R2", "R3"]
    assert sorted(r.jid for r in rows) == [1, 2, 3]


def test_lint_knows_beanstalkd():
    from bento_spark.plans.lint import known_inputs

    assert "beanstalkd" in known_inputs()
