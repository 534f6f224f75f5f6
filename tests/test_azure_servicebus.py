"""Service Bus queue input: SAS recipe + CBS handshake over the AMQP 1.0
stack, against the SAS-verifying MiniServiceBusBroker — token vectors,
401 on bad keys, broker annotations -> service_bus_* metadata,
nack_reject_patterns dead-lettering, and the YAML spool-bridge e2e."""

from __future__ import annotations

import time
import urllib.parse

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.amqp1 import Amqp1Client
from bento_spark.streaming.azure_servicebus import (
    ANN_SEQUENCE,
    MiniServiceBusBroker,
    cbs_put_token,
    decode_sections,
    encode_message,
    generate_sas_token,
    parse_sb_connection_string,
    service_bus_bridge,
    verify_sas_token,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def broker():
    b = MiniServiceBusBroker().start()
    yield b
    b.stop()


# ---------------------------------------------------------------------------
# SAS + connection string
# ---------------------------------------------------------------------------


def test_parse_sb_connection_string():
    host, kn, key, entity = parse_sb_connection_string(
        "Endpoint=sb://example.servicebus.windows.net/;"
        "SharedAccessKeyName=RootManageSharedAccessKey;"
        "SharedAccessKey=abc123;EntityPath=myqueue")
    assert host == "example.servicebus.windows.net"
    assert kn == "RootManageSharedAccessKey"
    assert key == "abc123" and entity == "myqueue"
    with pytest.raises(ValueError, match="SharedAccessKeyName"):
        parse_sb_connection_string("Endpoint=sb://x/;SharedAccessKey=k")


def test_sas_token_recipe():
    """The published recipe: HMAC-SHA256 over urlencode(resource)+\\n+se
    with the RAW key; token carries sr/sig/se/skn."""
    import base64
    import hashlib
    import hmac as _hmac

    tok = generate_sas_token("sb://ns/q", "keyname", "secret", 2000000000)
    fields = dict(urllib.parse.parse_qsl(
        tok.removeprefix("SharedAccessSignature ")))
    sr = urllib.parse.quote_plus("sb://ns/q")
    want = base64.b64encode(_hmac.new(
        b"secret", f"{sr}\n2000000000".encode(), hashlib.sha256
    ).digest()).decode()
    assert urllib.parse.unquote_plus(fields["sr"]) == "sb://ns/q"
    assert fields["sig"] == want
    assert fields["se"] == "2000000000" and fields["skn"] == "keyname"


def test_verify_sas_token():
    keys = {"kn": "secret"}
    future = int(time.time()) + 600
    good = generate_sas_token("sb://ns/q", "kn", "secret", future)
    assert verify_sas_token(good, "sb://ns/q", keys)
    # wrong audience / expired / wrong key / unknown key name
    assert not verify_sas_token(good, "sb://ns/other", keys)
    expired = generate_sas_token("sb://ns/q", "kn", "secret",
                                 int(time.time()) - 10)
    assert not verify_sas_token(expired, "sb://ns/q", keys)
    forged = generate_sas_token("sb://ns/q", "kn", "wrongkey", future)
    assert not verify_sas_token(forged, "sb://ns/q", keys)
    unknown = generate_sas_token("sb://ns/q", "other", "secret", future)
    assert not verify_sas_token(unknown, "sb://ns/q", keys)


def test_message_section_roundtrip():
    msg = encode_message(
        "hello", properties=["mid-1", None, "to", None, "reply"],
        application_properties={"k": "v"},
        message_annotations={ANN_SEQUENCE: 7},
        header=[None, None, None, None, 2])
    s = decode_sections(msg)
    assert s["body"] == "hello"
    assert s["properties"][0] == "mid-1" and s["properties"][4] == "reply"
    assert s["application_properties"] == {"k": "v"}
    assert s["message_annotations"][ANN_SEQUENCE] == 7
    assert s["header"][4] == 2


# ---------------------------------------------------------------------------
# CBS against the broker
# ---------------------------------------------------------------------------


def test_cbs_accepts_valid_token(broker):
    client = Amqp1Client(broker.host, broker.port)
    (kn, key), = broker.keys.items()
    aud = f"sb://{broker.host}/q1"
    cbs_put_token(client, aud,
                  generate_sas_token(aud, kn, key, int(time.time()) + 600))
    assert aud in broker.granted
    client.close()


def test_cbs_rejects_bad_signature(broker):
    client = Amqp1Client(broker.host, broker.port)
    aud = f"sb://{broker.host}/q1"
    (kn, _), = broker.keys.items()
    bad = generate_sas_token(aud, kn, "not-the-key", int(time.time()) + 600)
    with pytest.raises(ConnectionError, match="401"):
        cbs_put_token(client, aud, bad)
    assert aud not in broker.granted
    client.close()


def test_spooler_metadata_and_reject_patterns(broker, tmp_path):
    import json

    # pre-load the queue: annotations are added by the broker on enqueue
    broker.push("orders", encode_message(
        b'{"status": "ok-1"}', properties=["m-1", None, None, None, None,
                                           "corr-1", "application/json"]))
    broker.push("orders", encode_message(b'{"status": "POISON"}'))
    broker.push("orders", encode_message(b'{"status": "ok-2"}'))
    (kn, key), = broker.keys.items()
    spool = tmp_path / "sb_spool"
    sp = service_bus_bridge(
        host=broker.host, port=broker.port, queue="orders",
        spool_dir=str(spool), key_name=kn, key=key,
        nack_reject_patterns=[r"POISON"]).start()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline, "messages never spooled"
            time.sleep(0.05)
        time.sleep(0.3)  # allow an (incorrect) third spool to surface
    finally:
        sp.stop()
    envs = sorted(entries(spool), key=lambda e: e[0]["service_bus_sequence_number"])
    assert [body for _, body in envs] == [b'{"status": "ok-1"}',
                                          b'{"status": "ok-2"}']
    assert envs[0][0]["service_bus_message_id"] == "m-1"
    assert envs[0][0]["service_bus_correlation_id"] == "corr-1"
    assert envs[0][0]["service_bus_content_type"] == "application/json"
    assert envs[0][0]["service_bus_sequence_number"] == 1
    assert envs[1][0]["service_bus_sequence_number"] == 3
    assert envs[0][0]["service_bus_enqueued_time"] > 0
    assert envs[0][0]["service_bus_delivery_count"] == 0
    # the POISON message was rejected (dead-lettered), not requeued
    assert broker.queue_size("orders") == 0


def test_yaml_service_bus_input_end_to_end(spark, broker, tmp_path):
    broker.push("jobs", encode_message(b"alpha", properties=["j1"]))
    broker.push("jobs", encode_message(b"bravo", properties=["j2"]))
    spool = tmp_path / "spool_in"
    cs = broker.connection_string(entity="jobs")
    p = compile_yaml(f"""
input:
  azure_service_bus_queue:
    connection_string: "{cs}"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.mid = this.service_bus_message_id
        root.seq = this.service_bus_sequence_number
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
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
        (r.mid, r.body, r.seq)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("j1", "ALPHA", 1), ("j2", "BRAVO", 2)]


def test_lint_knows_service_bus():
    from bento_spark.plans.lint import known_inputs

    assert "azure_service_bus_queue" in known_inputs()
