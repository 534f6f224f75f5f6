"""Pulsar connector: dependency-free binary-protocol client
(streaming/pulsar.py) driven end-to-end against the in-process broker —
framing + CRC32C vectors from the published spec, token auth,
shared/exclusive subscription semantics, unacked redelivery, batch
decode, topics_pattern discovery, spool-bridge input with pulsar_*
metadata columns, and the interpolated-key producer output."""

from __future__ import annotations

import json
import struct
import threading
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.pulsar import (
    _MAGIC,
    SEND,
    Consumer,
    MiniPulsarBroker,
    Producer,
    PulsarClient,
    _base_command,
    decode_batch,
    encode_metadata,
    frame_payload,
    frame_simple,
    parse_pulsar_url,
    pulsar_bridge,
    read_frame,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def broker():
    b = MiniPulsarBroker().start()
    yield b
    b.stop()


# ---------------------------------------------------------------------------
# wire format
# ---------------------------------------------------------------------------


def test_frame_layout_matches_spec():
    """Spec §Framing: [totalSize][commandSize][command] and the payload
    variant's magic 0x0e01 + CRC32C over metadataSize+metadata+payload."""
    cmd = _base_command(SEND, b"")
    simple = frame_simple(cmd)
    total, cmd_size = struct.unpack(">II", simple[:8])
    assert total == 4 + len(cmd) and cmd_size == len(cmd)

    meta = encode_metadata("p1", 0, 123456)
    payload = b"hello pulsar"
    fr = frame_payload(cmd, meta, payload)
    total2, cmd_size2 = struct.unpack(">II", fr[:8])
    assert cmd_size2 == len(cmd)
    assert total2 == len(fr) - 4
    at = 8 + len(cmd)
    assert fr[at : at + 2] == _MAGIC
    # CRC covers everything after the checksum field
    from bento_spark.streaming.kafka_wire import crc32c

    crc = struct.unpack(">I", fr[at + 2 : at + 6])[0]
    assert crc == crc32c(fr[at + 6 :])


def test_crc_corruption_detected():
    cmd = _base_command(SEND, b"")
    fr = bytearray(frame_payload(cmd, encode_metadata("p", 0, 1), b"payload"))
    fr[-1] ^= 0xFF  # flip a payload bit

    class _FakeSock:
        def __init__(self, data):
            self.data = bytearray(data)

        def recv(self, n):
            out = bytes(self.data[:n])
            del self.data[:n]
            return out

    with pytest.raises(ConnectionError, match="CRC32C"):
        read_frame(_FakeSock(bytes(fr)), bytearray())


def test_required_zero_fields_are_emitted():
    """proto2 required semantics: sequence_id=0 must be ON the wire (a
    proto3 default-eliding encoder would drop it)."""
    meta = encode_metadata("p", 0, 0)
    # field 2 (sequence_id) varint 0 -> tag 0x10, value 0x00
    assert b"\x10\x00" in meta
    # field 3 (publish_time) varint 0 -> tag 0x18, value 0x00
    assert b"\x18\x00" in meta


def test_parse_pulsar_url():
    assert parse_pulsar_url("pulsar://h1:6650") == ("h1", 6650)
    assert parse_pulsar_url("pulsar+ssl://h2:6651/") == ("h2", 6651)
    assert parse_pulsar_url("h3") == ("h3", 6650)


def test_batch_decode():
    """num_messages_in_batch>1 payloads: [SMM size][SMM][payload] ×N with
    per-entry keys/payload_size."""
    from bento_spark.streaming.pulsar import _e_str, _e_varint

    entries = []
    for i, (key, body) in enumerate([("k0", b"alpha"), ("k1", b"bravo!")]):
        smm = bytearray()
        _e_str(smm, 2, key)
        _e_varint(smm, 3, len(body))
        _e_varint(smm, 8, i)
        entries.append(struct.pack(">I", len(smm)) + bytes(smm) + body)
    out = decode_batch(b"".join(entries), 2)
    assert [(s["partition_key"], p) for s, p in out] == [
        ("k0", b"alpha"), ("k1", b"bravo!")]
    assert int(out[1][0]["sequence_id"]) == 1


# ---------------------------------------------------------------------------
# client <-> broker
# ---------------------------------------------------------------------------


def test_token_auth(broker):
    broker.require_token = "s3cret"
    with pytest.raises(ConnectionError, match="connect rejected"):
        PulsarClient(broker.host, broker.port)  # no token
    with pytest.raises(ConnectionError, match="connect rejected"):
        PulsarClient(broker.host, broker.port, token="wrong")
    c = PulsarClient(broker.host, broker.port, token="s3cret")
    assert c.server_version.startswith("mini-pulsar")
    c.close()


def test_produce_consume_roundtrip(broker):
    topic = "persistent://public/default/t1"
    pc = PulsarClient(broker.host, broker.port)
    prod = Producer(pc, topic)
    prod.send(b"m-zero", key="ka", properties={"lang": "en"},
              event_time_ms=777000, publish_time_ms=1000)
    prod.send(b"m-one", ordering_key=b"ord-1", publish_time_ms=2000)
    prod.close()

    cc = PulsarClient(broker.host, broker.port)
    cons = Consumer(cc, topic, "subA")
    m0 = cons.receive()
    m1 = cons.receive()
    assert m0.payload == b"m-zero"
    assert m0.metadata["partition_key"] == "ka"
    assert {kv["key"]: kv["value"] for kv in m0.metadata["properties"]} == {
        "lang": "en"}
    assert int(m0.metadata["event_time"]) == 777000
    assert m0.metadata["producer_name"] == prod.name
    assert m1.payload == b"m-one"
    assert m1.metadata["ordering_key"] == b"ord-1"
    cons.ack(m0.message_id)
    cons.ack(m1.message_id)
    cons.close()
    pc.close()
    cc.close()


def test_shared_subscription_splits_traffic(broker):
    topic = "persistent://public/default/shared"
    ca = PulsarClient(broker.host, broker.port)
    consa = Consumer(ca, topic, "grp", sub_type="shared")
    cb = PulsarClient(broker.host, broker.port)
    consb = Consumer(cb, topic, "grp", sub_type="shared")

    pc = PulsarClient(broker.host, broker.port)
    prod = Producer(pc, topic)
    for i in range(4):
        prod.send(f"j{i}".encode(), publish_time_ms=i)
    prod.close()

    got_a = [consa.receive().payload for _ in range(2)]
    got_b = [consb.receive().payload for _ in range(2)]
    assert sorted(got_a + got_b) == [b"j0", b"j1", b"j2", b"j3"]
    assert len(got_a) == len(got_b) == 2  # round-robin within the group
    for c in (pc, ca, cb):
        c.close()


def test_exclusive_rejects_second_consumer(broker):
    topic = "persistent://public/default/excl"
    c1 = PulsarClient(broker.host, broker.port)
    Consumer(c1, topic, "solo", sub_type="exclusive")
    c2 = PulsarClient(broker.host, broker.port)
    with pytest.raises(ConnectionError, match="ConsumerBusy"):
        Consumer(c2, topic, "solo", sub_type="exclusive")
    c1.close()
    c2.close()


def test_unacked_message_redelivers(broker):
    topic = "persistent://public/default/redeliver"
    pc = PulsarClient(broker.host, broker.port)
    prod = Producer(pc, topic)
    prod.send(b"keep-me", publish_time_ms=1)
    prod.close()
    pc.close()

    # first consumer receives but never acks, then drops
    c1 = PulsarClient(broker.host, broker.port)
    cons1 = Consumer(c1, topic, "sub", sub_type="shared")
    assert cons1.receive().payload == b"keep-me"
    c1.close()  # no ack

    c2 = PulsarClient(broker.host, broker.port)
    cons2 = Consumer(c2, topic, "sub", sub_type="shared")
    m = cons2.receive()
    assert m.payload == b"keep-me"
    assert m.redelivery_count >= 1
    cons2.ack(m.message_id)
    c2.close()


def test_topics_pattern_discovery(broker, tmp_path):
    for t in ("persistent://public/default/ev-a",
              "persistent://public/default/ev-b",
              "persistent://public/default/other"):
        pc = PulsarClient(broker.host, broker.port)
        prod = Producer(pc, t)
        prod.send(t.rsplit("/", 1)[1].encode(), publish_time_ms=1)
        prod.close()
        pc.close()
    probe = PulsarClient(broker.host, broker.port)
    topics = probe.topics_of_namespace("public/default")
    probe.close()
    assert len(topics) == 3

    spool = tmp_path / "pattern_spool"
    sp = pulsar_bridge(broker.host, broker.port, [], "psub", str(spool),
                       topics_pattern=r"persistent://public/default/ev-.*")
    sp.start()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline, "pattern topics never spooled"
            time.sleep(0.05)
    finally:
        sp.stop()
    bodies = sorted(meta["pulsar_topic"].rsplit("/", 1)[1] for meta, _ in entries(spool))
    assert bodies == ["ev-a", "ev-b"]


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_pulsar_input_end_to_end(spark, broker, tmp_path):
    topic = "persistent://public/default/sensor"
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  pulsar:
    url: pulsar://{broker.host}:{broker.port}
    topics: [{topic}]
    subscription_name: bento
    subscription_type: shared
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.key = this.pulsar_key
        root.topic = this.pulsar_topic
        root.producer = this.pulsar_producer_name
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        pc = PulsarClient(broker.host, broker.port)
        prod = Producer(pc, topic, name="prod-e2e")
        prod.send(b"warm", key="k1", publish_time_ms=1000)
        prod.send(b"cold", key="k2", publish_time_ms=2000)
        prod.close()
        pc.close()
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
        (r.key, r.body, r.topic, r.producer)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("k1", "WARM", topic, "prod-e2e"),
                    ("k2", "COLD", topic, "prod-e2e")]


def test_yaml_pulsar_output_interpolated_key(spark, broker, tmp_path):
    topic = "persistent://public/default/outbound"
    got: list[tuple[str | None, bytes]] = []
    cc = PulsarClient(broker.host, broker.port)
    cons = Consumer(cc, topic, "watch")
    cc.sock.settimeout(None)  # idle watcher must outlive stream startup

    def drain() -> None:
        while True:
            try:
                m = cons.receive()
            except (ConnectionError, OSError):
                return
            got.append((m.metadata.get("partition_key"), m.payload))
            cons.ack(m.message_id)

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
  pulsar:
    url: pulsar://{broker.host}:{broker.port}
    topic: {topic}
    key: key-${{! this.line }}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(got) < 3:
        assert time.monotonic() < deadline, f"only {len(got)} messages arrived"
        time.sleep(0.05)
    cc.close()
    t.join(timeout=5)
    # per-row interpolated key; payload excludes the key column
    assert sorted(g[0] for g in got) == ["key-r1", "key-r2", "key-r3"]
    assert sorted(json.loads(g[1])["line"] for g in got) == ["r1", "r2", "r3"]


def test_lint_knows_pulsar():
    from bento_spark.plans.lint import known_inputs

    assert "pulsar" in known_inputs()
