"""nanomsg connector (reference internal/impl/nanomsg/{input,output}.go):
SP-over-TCP handshake with protocol-number validation, PUSH/PULL
round-robin, client-side SUB prefix filters, spool bridge and YAML e2e."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.nanomsg import NanomsgSocket, nanomsg_bridge
from bento_spark.streaming.spool import entries


def test_push_pull_roundtrip():
    pull = NanomsgSocket("PULL").bind()
    push = NanomsgSocket("PUSH").connect("127.0.0.1", pull.port)
    try:
        for i in range(5):
            push.send(f"m{i}".encode())
        got = [pull.recv(2) for _ in range(5)]
        assert got == [b"m0", b"m1", b"m2", b"m3", b"m4"]
        push.send(b"x" * 100_000)  # 64-bit size prefix handles big frames
        assert pull.recv(2) == b"x" * 100_000
    finally:
        push.close()
        pull.close()


def test_push_round_robins():
    p1 = NanomsgSocket("PULL").bind()
    p2 = NanomsgSocket("PULL").bind()
    push = NanomsgSocket("PUSH")
    push.connect("127.0.0.1", p1.port)
    push.connect("127.0.0.1", p2.port)
    try:
        for i in range(6):
            push.send(f"{i}".encode())
        a = [p1.recv(2) for _ in range(3)]
        b = [p2.recv(2) for _ in range(3)]
        assert sorted(a + b) == [b"0", b"1", b"2", b"3", b"4", b"5"]
    finally:
        push.close()
        p1.close()
        p2.close()


def test_sub_filters_are_client_side():
    """nanomsg PUB fans out EVERYTHING; the SUB filters locally
    (sp-pubsub) — the opposite of ZeroMQ's PUB-side filtering."""
    pub = NanomsgSocket("PUB").bind()
    sub = NanomsgSocket("SUB", sub_filters=[b"keep."]).connect("127.0.0.1", pub.port)
    try:
        time.sleep(0.1)
        pub.send(b"keep.a")
        pub.send(b"drop.b")
        pub.send(b"keep.c")
        assert sub.recv(2) == b"keep.a"
        assert sub.recv(1) == b"keep.c"
        assert sub.recv(0.2) is None
    finally:
        sub.close()
        pub.close()


def test_incompatible_protocol_numbers_fail():
    pull = NanomsgSocket("PULL").bind()
    try:
        with pytest.raises(ConnectionError, match="incompatible peer protocol"):
            NanomsgSocket("SUB", [b""]).connect("127.0.0.1", pull.port)
    finally:
        pull.close()


def test_close_releases_a_bound_port():
    """close() while the accept thread is blocked frees the port at once:
    a fresh-per-batch PUB+bind can take it right after."""
    pull = NanomsgSocket("PULL").bind()
    time.sleep(0.1)  # the accept thread is blocked in accept()
    pull.close()
    NanomsgSocket("PUB").bind("127.0.0.1", pull.port).close()

def test_spooler_sub_requires_filter(tmp_path):
    with pytest.raises(ValueError, match="at least one sub filter"):
        nanomsg_bridge("SUB", str(tmp_path / "s"), urls=["tcp://127.0.0.1:1"]).start()


def test_yaml_nanomsg_roundtrip(spark, tmp_path):
    """lines -> output.nanomsg (PUSH connect) -> input.nanomsg (PULL bind)
    -> parquet: the full pipe through both YAML sections."""
    spool = tmp_path / "spool_in"
    p_in = compile_yaml(f"""
input:
  nanomsg:
    urls: [tcp://127.0.0.1:0]
    bind: true
    socket_type: PULL
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: 'root.body = this.value.parse_json("line string").line.uppercase()'
output:
  path: {tmp_path}/out
""")
    sp = p_in.start_bridge()
    try:
        src = tmp_path / "src"
        src.mkdir()
        (src / "a.txt").write_text("r1\nr2\nr3")
        p_out = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  nanomsg:
    urls: [tcp://127.0.0.1:{sp.port}]
    socket_type: PUSH
""")
        q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
        q.awaitTermination(90)
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p_in.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        r.body for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == ["R1", "R2", "R3"]


def test_lint_knows_nanomsg():
    from bento_spark.plans.lint import known_inputs

    assert "nanomsg" in known_inputs()


def test_yaml_nanomsg_pub_bind_waits_for_subscriber(spark, tmp_path):
    """PUB+bind from a fresh-per-batch socket must wait for the
    subscriber handshake (slow-joiner) instead of fanning out to nobody."""
    from bento_spark.streaming.nanomsg import NanomsgSocket

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2")
    port_holder = NanomsgSocket("PULL").bind()  # reserve an ephemeral port
    port = port_holder.port
    port_holder.close()
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  nanomsg:
    urls: [tcp://127.0.0.1:{port}]
    socket_type: PUB
    bind: true
""")
    got = []
    import threading

    def subscribe_late():
        time.sleep(0.3)
        deadline = time.monotonic() + 20
        sub = None
        while sub is None and time.monotonic() < deadline:
            try:
                sub = NanomsgSocket("SUB", [b""]).connect("127.0.0.1", port)
            except OSError:
                time.sleep(0.1)
        while sub and len(got) < 2 and time.monotonic() < deadline:
            m = sub.recv(0.5)
            if m is not None:
                got.append(m)
        if sub:
            sub.close()

    t = threading.Thread(target=subscribe_late, daemon=True)
    t.start()
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_pub"))
    q.awaitTermination(90)
    t.join(timeout=30)
    assert sorted(json.loads(m)["line"] for m in got) == ["r1", "r2"]
