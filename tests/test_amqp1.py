"""AMQP 1.0 connector (reference internal/impl/amqp1/{input,output}.go):
OASIS type-system codec, SASL, sender/receiver links with credit and
dispositions, spooler redelivery, YAML wiring — against MiniAmqp1Broker."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.inputs import read_input
from bento_spark.streaming.amqp1 import (
    S_AMQP_VALUE,
    S_DATA,
    Amqp1Client,
    Described,
    MiniAmqp1Broker,
    Symbol,
    amqp1_bridge,
    decode_message_body,
    decode_value,
    enc_value,
    parse_amqp1_url,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def broker():
    b = MiniAmqp1Broker().start()
    yield b
    b.stop()


# --------------------------------------------------------------------------
# type system
# --------------------------------------------------------------------------


def test_codec_roundtrip_scalars():
    for v in [None, True, False, 0, 1, 255, 70000, -1, -300,
              "hello", "x" * 300, b"\x00\x01", b"y" * 300,
              Symbol("sym"), [], [1, "a", None], {"k": 1, "j": "s"}]:
        got = decode_value(enc_value(v))
        assert got == v, (v, got)
    # symbols decode as Symbol (a str subclass)
    assert isinstance(decode_value(enc_value(Symbol("s"))), Symbol)


def test_codec_described_and_sections():
    d = Described(0x77, "payload")
    got = decode_value(enc_value(d))
    assert isinstance(got, Described)
    assert got.descriptor == 0x77 and got.value == "payload"
    # message body extraction: amqp-value and data sections
    assert decode_message_body(enc_value(Described(S_AMQP_VALUE, "txt"))) == "txt"
    assert decode_message_body(enc_value(Described(S_DATA, b"bin"))) == b"bin"


def test_parse_url():
    assert parse_amqp1_url("amqp://h:5673") == ("h", 5673, None, None)
    assert parse_amqp1_url("amqp://u:p@h") == ("h", 5672, "u", "p")
    with pytest.raises(ValueError, match="amqps"):
        parse_amqp1_url("amqps://h")


# --------------------------------------------------------------------------
# client <-> broker e2e
# --------------------------------------------------------------------------


def test_send_receive_roundtrip(broker):
    tx = Amqp1Client("127.0.0.1", broker.port)
    rx = Amqp1Client("127.0.0.1", broker.port)
    try:
        h = tx.attach_sender("orders")
        tx.send_batch(h, [enc_value(Described(S_AMQP_VALUE, f"m{i}"))
                          for i in range(5)])
        rh = rx.attach_receiver("orders", credit=10)
        got = []
        deadline = time.monotonic() + 5
        while len(got) < 5 and time.monotonic() < deadline:
            for did, payload in rx.receive(wait_s=0.3):
                got.append((did, decode_message_body(payload)))
                rx.settle([did])
        assert [m for _d, m in got] == [f"m{i}" for i in range(5)]
        assert broker.queue_size("orders") == 0
    finally:
        tx.close()
        rx.close()


def test_sasl_plain_auth():
    b = MiniAmqp1Broker(username="u", password="secret").start()
    try:
        ok = Amqp1Client("127.0.0.1", b.port, username="u", password="secret")
        ok.close()
        with pytest.raises(ConnectionError, match="SASL rejected"):
            Amqp1Client("127.0.0.1", b.port, username="u", password="wrong")
    finally:
        b.stop()


def test_unsettled_deliveries_requeue_on_disconnect(broker):
    """The spooler's at-least-once contract: deliveries that were never
    settled return to the queue when the consumer drops."""
    broker.push("q", enc_value(Described(S_AMQP_VALUE, "keep")))
    rx = Amqp1Client("127.0.0.1", broker.port)
    rx.attach_receiver("q", credit=5)
    msgs = rx.receive(wait_s=2)
    assert len(msgs) == 1
    rx.close()  # NO settle
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline and broker.queue_size("q") == 0:
        time.sleep(0.05)
    assert broker.queue_size("q") == 1  # redelivered to the queue
    rx2 = Amqp1Client("127.0.0.1", broker.port)
    try:
        rx2.attach_receiver("q", credit=5)
        msgs2 = rx2.receive(wait_s=2)
        assert decode_message_body(msgs2[0][1]) == "keep"
        rx2.settle([msgs2[0][0]])
    finally:
        rx2.close()


# --------------------------------------------------------------------------
# spooler -> Spark stream + YAML wiring
# --------------------------------------------------------------------------


def test_spooler_end_to_end(broker, spark, tmp_path):
    for i in range(4):
        broker.push("feed", enc_value(Described(S_AMQP_VALUE,
                                                json.dumps({"n": i}))))
    spool = str(tmp_path / "spool")
    sp = amqp1_bridge(url=f"amqp://127.0.0.1:{broker.port}",
                      source_address="feed", spool_dir=spool).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if len(entries(spool)) >= 4:
                break
            time.sleep(0.05)
        assert sp.error is None
        df = read_input(spark, {"amqp_1": {"spool_dir": spool}}, True)
        q = (df.writeStream.format("memory").queryName("amqp1_e2e")
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        rows = spark.sql(
            "select amqp_delivery_id, value from amqp1_e2e "
            "order by amqp_delivery_id").collect()
        assert [json.loads(r.value)["n"] for r in rows] == [0, 1, 2, 3]
        assert broker.queue_size("feed") == 0  # settled after spooling
    finally:
        sp.stop()


def test_yaml_amqp1_output_stream(broker, spark, tmp_path):
    src = tmp_path / "words"
    src.mkdir()
    (src / "w.txt").write_text("dog\nemu")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
pipeline:
  processors:
    - mapping: |
        root.word = this.line
        root.n = this.line.length()
output:
  amqp_1:
    url: amqp://127.0.0.1:{broker.port}
    target_address: sink-q
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline and broker.queue_size("sink-q") < 2:
        time.sleep(0.05)
    with broker._lock:
        bodies = sorted(json.loads(decode_message_body(b))["word"]
                        for b in broker.queues["sink-q"])
    assert bodies == ["dog", "emu"]


def test_yaml_amqp1_input_stream(broker, spark, tmp_path):
    for w in ("ant", "bee"):
        broker.push("in-q", enc_value(Described(S_AMQP_VALUE,
                                                json.dumps({"w": w}))))
    spool = tmp_path / "spool"
    p = compile_yaml(f"""
input:
  amqp_1:
    url: amqp://127.0.0.1:{broker.port}
    source_address: in-q
    credit: 8
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: 'root.w = this.value.parse_json("w string").w.uppercase()'
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if len(entries(spool)) >= 2:
                break
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = sorted(r.w for r in p.sink.read(spark).collect())
    assert rows == ["ANT", "BEE"]
