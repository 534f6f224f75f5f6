"""MQTT connector: dependency-free 3.1.1 client (streaming/mqtt.py) driven
end-to-end against the in-process broker — wire vectors from the OASIS
spec, pub/sub routing with wildcards, spool-bridge input, and the
publisher output."""

from __future__ import annotations

import json
import socket
import struct
import threading
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.mqtt import (
    CONNACK,
    PUBACK,
    PUBLISH,
    SUBACK,
    MiniMqttBroker,
    MqttClient,
    encode_packet,
    encode_remaining_len,
    mqtt_bridge,
    read_packet,
    topic_matches,
)
from bento_spark.streaming.spool import Spool, entries


@pytest.fixture()
def broker():
    b = MiniMqttBroker().start()
    yield b
    b.stop()


def test_wire_encoding_vectors():
    # remaining-length varint examples from MQTT 3.1.1 §2.2.3
    assert encode_remaining_len(0) == b"\x00"
    assert encode_remaining_len(127) == b"\x7f"
    assert encode_remaining_len(128) == b"\x80\x01"
    assert encode_remaining_len(16_383) == b"\xff\x7f"
    assert encode_remaining_len(16_384) == b"\x80\x80\x01"
    # PINGREQ is the spec's two-byte fixed packet
    assert encode_packet(12, 0, b"") == b"\xc0\x00"
    # PUBLISH QoS0: type 3, topic "a/b", payload "hi"
    assert encode_packet(3, 0, b"\x00\x03a/bhi") == b"\x30\x07\x00\x03a/bhi"


def test_topic_filter_matching():
    # §4.7 examples
    assert topic_matches("sport/tennis/#", "sport/tennis/player1/ranking")
    assert topic_matches("sport/#", "sport")  # parent level included
    assert topic_matches("sport/+/player1", "sport/tennis/player1")
    assert not topic_matches("sport/+", "sport/tennis/player1")
    assert topic_matches("+/+", "a/b") and not topic_matches("+", "a/b")
    assert not topic_matches("sport/tennis", "sport/golf")


def test_client_pubsub_roundtrip(broker):
    sub = MqttClient(broker.host, broker.port)
    sub.subscribe(["t/+"], qos=1)
    pub = MqttClient(broker.host, broker.port)
    pub.publish("t/a", b"one", qos=1)  # QoS1: PUBACK round-trip inside
    pub.publish("t/b", b"two", qos=0)
    pub.publish("other", b"nope", qos=0)
    got = [sub.recv_publish(), sub.recv_publish()]
    assert [(t, p) for t, p, _, _ in got] == [("t/a", b"one"), ("t/b", b"two")]
    pub.disconnect()
    sub.disconnect()


def test_retained_message_replay(broker):
    pub = MqttClient(broker.host, broker.port)
    pub.publish("cfg/a", b"v1", qos=1, retain=True)
    # a LATE subscriber still receives the retained value
    sub = MqttClient(broker.host, broker.port)
    sub.subscribe(["cfg/#"])
    topic, payload, _, retained = sub.recv_publish()
    assert (topic, payload, retained) == ("cfg/a", b"v1", True)
    pub.disconnect()
    sub.disconnect()


def test_spooler_qos1_ack_after_spool(broker, tmp_path):
    spool = tmp_path / "mqtt_spool"
    sp = mqtt_bridge(broker.host, broker.port, ["ev/#"], str(spool)).start()
    try:
        pub = MqttClient(broker.host, broker.port)
        for i in range(5):
            pub.publish(f"ev/{i % 2}", f"m{i}".encode(), qos=1)
        pub.disconnect()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 5:
            assert time.monotonic() < deadline, "messages never spooled"
            time.sleep(0.05)
    finally:
        sp.stop()
    got = entries(spool)
    assert [body for _, body in got] == [b"m0", b"m1", b"m2", b"m3", b"m4"]
    # the topic rides the spool header
    assert got[0][0]["mqtt_topic"] == "ev/0"


@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
@pytest.mark.parametrize("put_fails", [False, True])
def test_spooler_puback_follows_put(tmp_path, monkeypatch, put_fails):
    """A scripted broker sends one QoS1 PUBLISH: the PUBACK arrives only
    once the message is spooled, and never when the spool put raises."""
    if put_fails:
        def boom(self, body, **meta):
            raise OSError("disk full")

        monkeypatch.setattr(Spool, "put", boom)
    spool = tmp_path / "spool"
    srv = socket.create_server(("127.0.0.1", 0))
    seen: list = []

    def broker() -> None:
        conn, _ = srv.accept()
        with conn:
            read_packet(conn)  # CONNECT
            conn.sendall(encode_packet(CONNACK, 0, b"\x00\x00"))
            _, _, sub = read_packet(conn)  # SUBSCRIBE
            conn.sendall(encode_packet(SUBACK, 0, sub[:2] + b"\x01"))
            conn.sendall(encode_packet(PUBLISH, 0x02, b"\x00\x01t" + struct.pack(">H", 7) + b"m"))
            conn.settimeout(1.0)
            try:
                ptype, _, body = read_packet(conn)
                seen.append((ptype, body, len(entries(spool))))
            except TimeoutError:
                seen.append(None)

    t = threading.Thread(target=broker, daemon=True)
    t.start()
    sp = mqtt_bridge("127.0.0.1", srv.getsockname()[1], ["t"], str(spool)).start()
    try:
        t.join(timeout=10)
    finally:
        sp.stop()
        srv.close()
    assert seen == ([None] if put_fails else [(PUBACK, struct.pack(">H", 7), 1)])


def test_bridge_rides_out_a_broker_restart(tmp_path):
    """Kill the broker mid-stream and start a new one on the same port:
    the subscriber reconnects and re-subscribes, and every message
    published once it is running again reaches the spool."""
    first = MiniMqttBroker().start()
    host, port = first.host, first.port
    spool = tmp_path / "spool"
    sp = mqtt_bridge(host, port, ["ev/#"], str(spool)).start()
    second = None

    def until(pred, what: str) -> None:
        deadline = time.monotonic() + 15
        while not pred():
            assert time.monotonic() < deadline, what
            time.sleep(0.05)

    try:
        pub = MqttClient(host, port)
        pub.publish("ev/a", b"before", qos=1)
        pub.disconnect()
        until(lambda: len(entries(spool)) == 1, "first message not spooled")
        first.stop()
        until(lambda: sp.state == "reconnecting", "subscriber did not see the broker go")
        second = MiniMqttBroker(port=port).start()
        until(lambda: sp.state == "running", f"subscriber did not reconnect: {sp.cause}")
        pub = MqttClient(host, port)
        for i in range(3):
            pub.publish(f"ev/{i}", f"after-{i}".encode(), qos=1)
        pub.disconnect()
        until(lambda: len(entries(spool)) == 4, "messages after the restart not spooled")
    finally:
        sp.stop()
        if second is not None:
            second.stop()
    assert [body for _, body in entries(spool)] == [
        b"before", b"after-0", b"after-1", b"after-2"]
    assert sp.restarts >= 1 and sp.error is None


def test_yaml_mqtt_input_end_to_end(spark, broker, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  mqtt:
    urls: [tcp://{broker.host}:{broker.port}]
    topics: ["sensor/+"]
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.topic = this.mqtt_topic
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        pub = MqttClient(broker.host, broker.port)
        pub.publish("sensor/a", b"warm", qos=1)
        pub.publish("sensor/b", b"cold", qos=1)
        pub.disconnect()
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
        (r.topic, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("sensor/a", "WARM"), ("sensor/b", "COLD")]


def test_yaml_mqtt_output_end_to_end(spark, broker, tmp_path):
    # collect what the pipeline publishes via a plain subscriber
    got: list[tuple[str, bytes]] = []
    sub = MqttClient(broker.host, broker.port)
    sub.subscribe(["out/#"])

    def drain() -> None:
        while True:
            try:
                m = sub.recv_publish()
            except (ConnectionError, OSError):
                return
            if m is None:
                return
            got.append((m[0], m[1]))

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
  mqtt:
    urls: [tcp://{broker.host}:{broker.port}]
    topic: out/rows
    qos: 1
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(got) < 3:
        assert time.monotonic() < deadline, f"only {len(got)} messages arrived"
        time.sleep(0.05)
    sub.close()
    t.join(timeout=5)
    assert {g[0] for g in got} == {"out/rows"}
    vals = sorted(json.loads(g[1])["line"] for g in got)
    assert vals == ["r1", "r2", "r3"]


def test_lint_knows_mqtt():
    from bento_spark.plans.lint import known_inputs

    assert "mqtt" in known_inputs()
