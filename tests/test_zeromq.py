"""ZeroMQ connector (reference internal/impl/zeromq/{input,output}_zmq4.go)
— dependency-free ZMTP 3.0: greeting/READY handshake, socket-type
validation, PUSH/PULL round-robin + fair-queue, PUB/SUB prefix filters,
long/multi-frame messages, spool bridge and YAML e2e."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.spool import entries
from bento_spark.streaming.zeromq import ZmqSocket, zmq_bridge


# --------------------------------------------------------------------------
# protocol
# --------------------------------------------------------------------------


def test_push_pull_roundtrip_and_framing():
    pull = ZmqSocket("PULL").bind()
    push = ZmqSocket("PUSH").connect("127.0.0.1", pull.port)
    try:
        for i in range(5):
            push.send([f"m{i}".encode()])
        got = [pull.recv(2)[0] for _ in range(5)]
        assert got == [b"m0", b"m1", b"m2", b"m3", b"m4"]
        # LONG frames (>255 bytes) and multi-frame messages
        push.send([b"a" * 300, b"tail"])
        assert pull.recv(2) == [b"a" * 300, b"tail"]
    finally:
        push.close()
        pull.close()


def test_push_round_robins_across_pull_peers():
    p1 = ZmqSocket("PULL").bind()
    p2 = ZmqSocket("PULL").bind()
    push = ZmqSocket("PUSH")
    push.connect("127.0.0.1", p1.port)
    push.connect("127.0.0.1", p2.port)
    try:
        for i in range(6):
            push.send([f"{i}".encode()])
        a = [p1.recv(2)[0] for _ in range(3)]
        b = [p2.recv(2)[0] for _ in range(3)]
        assert sorted(a + b) == [b"0", b"1", b"2", b"3", b"4", b"5"]
        assert len(a) == len(b) == 3  # even spread
    finally:
        push.close()
        p1.close()
        p2.close()


def test_pub_sub_filters_at_pub_side():
    pub = ZmqSocket("PUB").bind()
    sub = ZmqSocket("SUB", sub_filters=[b"sensor."]).connect("127.0.0.1", pub.port)
    try:
        time.sleep(0.2)  # subscription lands
        pub.send([b"sensor.a", b"warm"])
        pub.send([b"other.b", b"nope"])
        pub.send([b"sensor.c", b"cold"])
        assert sub.recv(2) == [b"sensor.a", b"warm"]
        assert sub.recv(1) == [b"sensor.c", b"cold"]
        assert sub.recv(0.3) is None  # non-matching topic never transferred
    finally:
        sub.close()
        pub.close()


def test_incompatible_socket_types_fail_handshake():
    pull = ZmqSocket("PULL").bind()
    try:
        with pytest.raises(ConnectionError, match="incompatible peer Socket-Type"):
            ZmqSocket("SUB").connect("127.0.0.1", pull.port)
    finally:
        pull.close()


# --------------------------------------------------------------------------
# spool bridge + YAML e2e
# --------------------------------------------------------------------------


def test_close_releases_a_bound_port():
    """close() while the accept thread is blocked frees the port at once:
    a fresh-per-batch PUB+bind can take it right after."""
    pull = ZmqSocket("PULL").bind()
    time.sleep(0.1)  # the accept thread is blocked in accept()
    pull.close()
    ZmqSocket("PUB").bind("127.0.0.1", pull.port).close()

def test_yaml_zmq_pull_input_end_to_end(spark, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  zmq4:
    urls: [tcp://127.0.0.1:0]
    bind: true
    socket_type: PULL
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: 'root.body = this.value.uppercase()'
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        push = ZmqSocket("PUSH").connect("127.0.0.1", sp.port)
        push.send([b"warm"])
        push.send([b"cold"])
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        push.close()
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        r.body for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == ["COLD", "WARM"]


def test_yaml_zmq_pub_output_interpolated_topic(spark, tmp_path):
    sub = ZmqSocket("SUB", sub_filters=[b"word."]).bind()
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  zmq4:
    urls: [tcp://127.0.0.1:{sub.port}]
    socket_type: PUB
    topic: word.${{! this.line }}
""")
    try:
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
        q.awaitTermination(90)
        got = {}
        deadline = time.monotonic() + 10
        while len(got) < 3 and time.monotonic() < deadline:
            m = sub.recv(0.5)
            if m is not None:
                got[m[0].decode()] = json.loads(m[1])
        assert sorted(got) == ["word.r1", "word.r2", "word.r3"]
        # payload excludes the topic column
        assert got["word.r2"] == {"line": "r2"}
    finally:
        sub.close()


def test_spooler_sub_filters(tmp_path):
    pub = ZmqSocket("PUB").bind()
    spool = tmp_path / "spool"
    sp = zmq_bridge("SUB", str(spool), urls=[f"tcp://127.0.0.1:{pub.port}"],
                    sub_filters=["keep."]).start()
    try:
        time.sleep(0.2)
        pub.send([b"keep.a", b"1"])
        pub.send([b"drop.b", b"2"])
        pub.send([b"keep.c", b"3"])
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(entries(spool)) < 2:
            time.sleep(0.05)
        time.sleep(0.2)
        # topic frame + payload concatenate into the spooled body
        assert [body for _, body in entries(spool)] == [b"keep.a1", b"keep.c3"]
    finally:
        sp.stop()
        pub.close()


def test_lint_knows_zmq4():
    from bento_spark.plans.lint import known_inputs

    assert "zmq4" in known_inputs()


def test_zmq4n_alias_normalizes():
    # zeromq/input_zmq4n.go + output_zmq4n.go: the pure-Go registration
    # of the same ZMTP contract — zmq4n sections normalize onto zmq4
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.plans.lint import known_inputs

    p = compile_yaml("""
input:
  zmq4n: {urls: ["tcp://127.0.0.1:1"], socket_type: PULL, spool_dir: /tmp/x}
output:
  zmq4n: {urls: ["tcp://127.0.0.1:2"], socket_type: PUSH}
""")
    assert "zmq4" in p.conf["input"] and "zmq4n" not in p.conf["input"]
    assert "zmq4" in p.conf["output"] and "zmq4n" not in p.conf["output"]
    assert "zmq4n" in known_inputs()
