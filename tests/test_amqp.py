"""AMQP 0.9.1 connector: dependency-free client (streaming/amqp.py)
driven end-to-end against the in-process broker — framing vectors,
handshake, exchange routing (direct/fanout/topic + default), consumer
ack/redelivery semantics, the spool-bridge input, and the YAML wiring."""

from __future__ import annotations

import json
import struct
import time

import pytest

from bento_spark.streaming.amqp import (
    AmqpClient,
    MiniAmqpBroker,
    amqp_bridge,
    binding_matches,
    content_header,
    method,
    parse_amqp_url,
    shortstr,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def broker():
    b = MiniAmqpBroker().start()
    yield b
    b.stop()


def test_wire_encoding_vectors():
    # spec §4.2.5.3: shortstr is 1-byte length + bytes
    assert shortstr("abc") == b"\x03abc"
    # method frame payload: class-id, method-id, args (spec §2.3.5.1)
    assert method(60, 40, b"xy") == b"\x00\x3c\x00\x28xy"
    # content header: class 60, weight 0, 8-byte size, empty prop flags
    assert content_header(5) == struct.pack(">HHQH", 60, 0, 5, 0)


def test_parse_amqp_url():
    assert parse_amqp_url("amqp://h:5673") == ("h", 5673, "/")
    assert parse_amqp_url("amqp://u:p@h:5673/vh") == ("h", 5673, "/vh")
    assert parse_amqp_url("h:5673") == ("h", 5673, "/")
    assert parse_amqp_url("amqp://h") == ("h", 5672, "/")


def test_topic_binding_matching():
    assert binding_matches("a.*.c", "a.b.c")
    assert not binding_matches("a.*.c", "a.b.b.c")
    assert binding_matches("a.#", "a")
    assert binding_matches("a.#", "a.b.c.d")
    assert binding_matches("#.d", "a.b.c.d")
    assert not binding_matches("a.b", "a.b.c")


def test_default_exchange_publish_consume(broker):
    pub = AmqpClient(broker.host, broker.port)
    sub = AmqpClient(broker.host, broker.port)
    q = sub.queue_declare("jobs")
    assert q == "jobs"
    pub.publish("", "jobs", b"payload-1")
    sub.consume("jobs")
    got = sub.recv_deliver()
    assert got is not None
    tag, _ex, key, body = got
    assert (key, body) == ("jobs", b"payload-1")
    sub.ack(tag)
    pub.close()
    sub.close()


def test_topic_exchange_routing(broker):
    pub = AmqpClient(broker.host, broker.port)
    sub = AmqpClient(broker.host, broker.port)
    pub.exchange_declare("logs", "topic")
    q = sub.queue_declare("")  # server-named
    assert q.startswith("amq.gen-")
    sub.queue_bind(q, "logs", "app.*.error")
    pub.publish("logs", "app.web.error", b"e1")
    pub.publish("logs", "app.web.info", b"skip")
    pub.publish("logs", "app.db.error", b"e2")
    sub.consume(q)
    got = [sub.recv_deliver() for _ in range(2)]
    assert [(g[2], g[3]) for g in got] == [
        ("app.web.error", b"e1"), ("app.db.error", b"e2")]
    sub.close()
    pub.close()


def test_fanout_delivers_to_all_bound_queues(broker):
    pub = AmqpClient(broker.host, broker.port)
    pub.exchange_declare("bcast", "fanout")
    subs = []
    for i in range(2):
        s = AmqpClient(broker.host, broker.port)
        q = s.queue_declare(f"q{i}")
        s.queue_bind(q, "bcast", "")
        s.consume(q)
        subs.append(s)
    pub.publish("bcast", "ignored", b"hello")
    for s in subs:
        got = s.recv_deliver()
        assert got[3] == b"hello"
        s.close()
    pub.close()


def test_unacked_redelivery_after_consumer_drop(broker):
    pub = AmqpClient(broker.host, broker.port)
    pub.queue_declare("work")
    pub.publish("", "work", b"m1")
    # consumer receives but dies WITHOUT acking
    c1 = AmqpClient(broker.host, broker.port)
    c1.consume("work")
    assert c1.recv_deliver()[3] == b"m1"
    c1.sock.close()  # hard drop, no close handshake
    time.sleep(0.2)
    # a second consumer gets the redelivery
    c2 = AmqpClient(broker.host, broker.port)
    c2.consume("work")
    got = c2.recv_deliver()
    assert got[3] == b"m1"
    c2.ack(got[0])
    c2.close()
    pub.close()


def test_large_body_multi_frame(broker):
    pub = AmqpClient(broker.host, broker.port)
    sub = AmqpClient(broker.host, broker.port)
    sub.queue_declare("big")
    body = bytes(range(256)) * 2048  # 512 KiB > frame_max
    pub.publish("", "big", body)
    sub.consume("big")
    assert sub.recv_deliver()[3] == body
    pub.close()
    sub.close()


def test_spooler_acks_after_spool(broker, tmp_path):
    spool = tmp_path / "spool"
    pub = AmqpClient(broker.host, broker.port)
    pub.queue_declare("evt")
    sp = amqp_bridge(host=broker.host, port=broker.port, queue="evt",
                     spool_dir=str(spool))
    sp.start()
    try:
        pub.publish("", "evt", b"one")
        pub.publish("", "evt", b"two")
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        sp.stop()
        pub.close()
    got = entries(spool)
    assert [body for _, body in got] == [b"one", b"two"]
    # the routing key rides the spool header
    assert all(meta["amqp_key"] == "evt" for meta, _ in got)
    # everything spooled was acked — broker holds no pending redelivery
    with broker._lock:
        assert all(not c["unacked"] for c in broker._consumers)
        assert not broker._queues.get("evt")


def test_yaml_amqp_input_end_to_end(spark, broker, tmp_path):
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.sink import IdempotentParquetSink

    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  amqp_0_9:
    urls: [amqp://{broker.host}:{broker.port}]
    queue: ingest
    queue_declare: {{enabled: true}}
    bindings_declare:
      - exchange: metrics
        key: "host.*"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.key = this.amqp_key
output:
  path: {tmp_path}/out
""")
    pub = AmqpClient(broker.host, broker.port)
    pub.exchange_declare("metrics", "topic")
    sp = p.start_bridge()
    try:
        pub.publish("metrics", "host.a", b"warm")
        pub.publish("metrics", "host.b", b"cold")
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        # assert completion: a cold-JVM first micro-batch can exceed a short
        # timeout, and falling through reads an empty sink (false failure)
        assert q.awaitTermination(300), "availableNow query did not finish in 300s"
    finally:
        sp.stop()
        pub.close()
    rows = sorted(
        (r.key, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("host.a", "WARM"), ("host.b", "COLD")]


def test_yaml_amqp_output_end_to_end(spark, broker, tmp_path):
    from bento_spark.plans.compiler import compile_yaml

    sub = AmqpClient(broker.host, broker.port)
    q = sub.queue_declare("sink_q")
    sub.queue_bind(q, "results", "r.*")

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  amqp_0_9:
    urls: [amqp://{broker.host}:{broker.port}]
    exchange: results
    exchange_declare: {{enabled: true, type: topic}}
    key: "r.${{! line }}"
""").run_stream(spark, checkpoint=str(tmp_path / "ckpt_out")).awaitTermination(90)
    sub.consume(q)
    got = sorted(
        (g[2], json.loads(g[3])["line"])
        for g in (sub.recv_deliver() for _ in range(3))
    )
    assert got == [("r.r1", "r1"), ("r.r2", "r2"), ("r.r3", "r3")]
    sub.close()


def test_lint_knows_amqp():
    from bento_spark.plans.lint import known_inputs

    assert "amqp_0_9" in known_inputs()
