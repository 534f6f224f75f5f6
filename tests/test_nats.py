"""NATS connector: dependency-free core-NATS client (streaming/nats.py)
driven end-to-end against the in-process server — subject-matching
vectors from the public protocol docs, queue-group round-robin,
spool-bridge input, and the interpolated-subject publisher output."""

from __future__ import annotations

import json
import threading
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.nats import (
    MiniNatsServer,
    NatsClient,
    nats_bridge,
    subject_matches,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniNatsServer().start()
    yield s
    s.stop()


def test_subject_matching():
    # docs.nats.io "Subject-Based Messaging" examples
    assert subject_matches("time.*.east", "time.us.east")
    assert not subject_matches("time.*.east", "time.us.city.east")
    assert subject_matches("time.us.>", "time.us.east.atlanta")
    assert not subject_matches("time.us.>", "time.us")  # > needs >=1 token
    assert subject_matches("foo.bar", "foo.bar")
    assert not subject_matches("foo.bar", "foo.baz")
    assert not subject_matches("*", "a.b")


def test_client_pubsub_roundtrip(server):
    sub = NatsClient(server.host, server.port)
    sub.subscribe("t.*")
    sub.flush()
    pub = NatsClient(server.host, server.port)
    pub.publish("t.a", b"one")
    pub.publish("t.b", b"two", reply="inbox.7")
    pub.publish("other", b"nope")
    pub.flush()
    m1, m2 = sub.recv_msg(), sub.recv_msg()
    assert (m1[0], m1[3]) == ("t.a", b"one")
    assert (m2[0], m2[2], m2[3]) == ("t.b", "inbox.7", b"two")
    pub.close()
    sub.close()


def test_queue_group_round_robin(server):
    # two members of one queue group split the traffic; a plain
    # subscriber sees everything
    qa = NatsClient(server.host, server.port)
    qa.subscribe("jobs.>", queue="workers")
    qa.flush()
    qb = NatsClient(server.host, server.port)
    qb.subscribe("jobs.>", queue="workers")
    qb.flush()
    watcher = NatsClient(server.host, server.port)
    watcher.subscribe("jobs.>")
    watcher.flush()
    pub = NatsClient(server.host, server.port)
    for i in range(4):
        pub.publish("jobs.x", f"j{i}".encode())
    pub.flush()
    # plain subscriber: all four
    seen = sorted(watcher.recv_msg()[3] for _ in range(4))
    assert seen == [b"j0", b"j1", b"j2", b"j3"]
    # queue members: two each (round-robin)
    got_a = [qa.recv_msg()[3] for _ in range(2)]
    got_b = [qb.recv_msg()[3] for _ in range(2)]
    assert sorted(got_a + got_b) == [b"j0", b"j1", b"j2", b"j3"]
    assert len(got_a) == len(got_b) == 2
    for c in (qa, qb, watcher, pub):
        c.close()


def test_spooler_spools_with_subject(server, tmp_path):
    spool = tmp_path / "nats_spool"
    sp = nats_bridge(server.host, server.port, "ev.>", str(spool)).start()
    try:
        pub = NatsClient(server.host, server.port)
        for i in range(5):
            pub.publish(f"ev.{i % 2}", f"m{i}".encode())
        pub.flush()
        pub.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 5:
            assert time.monotonic() < deadline, "messages never spooled"
            time.sleep(0.05)
    finally:
        sp.stop()
    got = entries(spool)
    assert [body for _, body in got] == [b"m0", b"m1", b"m2", b"m3", b"m4"]
    # the subject rides the spool header
    assert got[0][0]["nats_subject"] == "ev.0"


def test_yaml_nats_input_end_to_end(spark, server, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  nats:
    urls: [nats://{server.host}:{server.port}]
    subject: sensor.*
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.subject = this.nats_subject
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        pub = NatsClient(server.host, server.port)
        pub.publish("sensor.a", b"warm")
        pub.publish("sensor.b", b"cold")
        pub.flush()
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
        (r.subject, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("sensor.a", "WARM"), ("sensor.b", "COLD")]


def test_yaml_nats_output_interpolated_subject(spark, server, tmp_path):
    got: list[tuple[str, bytes]] = []
    sub = NatsClient(server.host, server.port)
    sub.subscribe("out.>")
    sub.flush()

    def drain() -> None:
        while True:
            try:
                m = sub.recv_msg()
            except (ConnectionError, OSError):
                return
            got.append((m[0], m[3]))

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
  nats:
    urls: [nats://{server.host}:{server.port}]
    subject: out.${{! this.line }}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(got) < 3:
        assert time.monotonic() < deadline, f"only {len(got)} messages arrived"
        time.sleep(0.05)
    sub.close()
    t.join(timeout=5)
    # per-row interpolated subject, payload excludes the subject column
    assert sorted(g[0] for g in got) == ["out.r1", "out.r2", "out.r3"]
    assert sorted(json.loads(g[1])["line"] for g in got) == ["r1", "r2", "r3"]


def test_lint_knows_nats():
    from bento_spark.plans.lint import known_inputs

    assert "nats" in known_inputs()


def _responder(server, subject, transform, ready, stop):
    """A NATS responder: reply to each request on its inbox (the service
    side of processor_request_reply.go's pattern)."""
    c = NatsClient(server.host, server.port)
    c.subscribe(subject)
    c.flush()
    ready.set()
    c.sock.settimeout(0.2)
    while not stop.is_set():
        try:
            _s, _sid, reply, payload = c.recv_msg()
        except TimeoutError:
            continue
        except (ConnectionError, OSError):
            break
        if reply:
            c.publish(reply, transform(payload))
    c.close()


def test_client_request_reply(server):
    ready, stop = threading.Event(), threading.Event()
    t = threading.Thread(target=_responder, args=(
        server, "svc.echo", lambda p: b"RE:" + p, ready, stop), daemon=True)
    t.start()
    assert ready.wait(5)
    c = NatsClient(server.host, server.port)
    try:
        assert c.request("svc.echo", b"hello", timeout=5) == b"RE:hello"
        with pytest.raises((TimeoutError, OSError)):
            c.request("svc.nobody", b"x", timeout=0.3)
    finally:
        stop.set()
        t.join(timeout=5)
        c.close()


def test_yaml_nats_request_reply_processor(spark, server, tmp_path):
    ready, stop = threading.Event(), threading.Event()

    def upper(payload: bytes) -> bytes:
        doc = json.loads(payload)
        return json.dumps({"up": doc["name"].upper()}).encode()

    t = threading.Thread(target=_responder, args=(
        server, "svc.upper", upper, ready, stop), daemon=True)
    t.start()
    assert ready.wait(5)
    try:
        p = compile_yaml(f"""
input:
  generate_clips: {{count: 3}}
pipeline:
  processors:
    - mapping: |
        root.name = this.codec
    - nats_request_reply:
        urls: ["nats://{server.host}:{server.port}"]
        subject: svc.upper
        timeout: 5s
""")
        rows = p.build_batch(spark).collect()
        assert len(rows) == 3
        for r in rows:
            assert r.error is None
            assert json.loads(r.nats_reply) == {"up": r.name.upper()}
    finally:
        stop.set()
        t.join(timeout=5)


def test_nats_request_reply_timeout_errors_row(spark, server):
    from pyspark.sql import functions as F

    from bento_spark.streaming.nats import nats_request_reply_enrich

    df = spark.range(2).select(F.col("id").cast("int").alias("i"))
    out = nats_request_reply_enrich(
        df, server.host, server.port, "svc.absent", timeout=0.3).collect()
    assert all(r.nats_reply is None for r in out)
    assert all(r.error and "nats request failed" in r.error for r in out)
