"""AWS SQS connector (reference internal/impl/aws/{input,output}_sqs.go):
SigV4 signing pinned against AWS's published example vector, the JSON
protocol client, visibility-timeout redelivery, spool bridge and YAML
e2e — against the signature-verifying MiniSqsServer."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.spool import entries
from bento_spark.streaming.sqs import (
    MiniSqsServer,
    SqsClient,
    sigv4_signature,
    sqs_bridge,
)


@pytest.fixture()
def server():
    s = MiniSqsServer().start()
    yield s
    s.stop()


_Q = "https://sqs.us-east-1.amazonaws.com/123456789012/test-queue"


def test_sigv4_aws_published_vector():
    """docs.aws.amazon.com SigV4 'Example: Signature calculation':
    GET iam.amazonaws.com ListUsers with the documented example keys."""
    signed, sig = sigv4_signature(
        "GET", "/", "Action=ListUsers&Version=2010-05-08",
        {"host": "iam.amazonaws.com",
         "content-type": "application/x-www-form-urlencoded; charset=utf-8",
         "x-amz-date": "20150830T123600Z"},
        b"", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY", "us-east-1", "iam",
        "20150830T123600Z")
    assert signed == "content-type;host;x-amz-date"
    assert sig == "5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7"


def test_send_receive_delete_roundtrip(server):
    c = SqsClient(server.endpoint, server.access_key, server.secret_key)
    mid = c.send_message(_Q, "hello")
    assert mid.startswith("m-")
    msgs = c.receive_message(_Q, max_messages=10)
    assert len(msgs) == 1 and msgs[0]["Body"] == "hello"
    # in-flight: invisible until the visibility timeout
    assert c.receive_message(_Q) == []
    c.delete_message(_Q, msgs[0]["ReceiptHandle"])
    assert server.queue_size(_Q) == 0


def test_bad_signature_rejected(server):
    c = SqsClient(server.endpoint, server.access_key, "wrong-secret")
    with pytest.raises(ConnectionError, match="403"):
        c.send_message(_Q, "x")


def test_visibility_timeout_redelivers(server):
    server.visibility_timeout_s = 0.3
    c = SqsClient(server.endpoint, server.access_key, server.secret_key)
    c.send_message(_Q, "retry-me")
    m1 = c.receive_message(_Q)
    assert m1 and m1[0]["Body"] == "retry-me"
    # not deleted -> re-appears after the timeout
    time.sleep(0.4)
    m2 = c.receive_message(_Q)
    assert m2 and m2[0]["MessageId"] == m1[0]["MessageId"]
    c.delete_message(_Q, m2[0]["ReceiptHandle"])


def test_spooler_acks_after_durability(server, tmp_path):
    c = SqsClient(server.endpoint, server.access_key, server.secret_key)
    for i in range(4):
        c.send_message(_Q, f"j{i}")
    spool = tmp_path / "spool"
    sp = sqs_bridge(server.endpoint, _Q, server.access_key, server.secret_key,
                    str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(entries(spool)) < 4:
            time.sleep(0.05)
        assert sorted(body for _, body in entries(spool)) == [b"j0", b"j1", b"j2", b"j3"]
        assert server.queue_size(_Q) == 0  # all deleted after spooling
    finally:
        sp.stop()


def test_yaml_sqs_roundtrip(spark, server, tmp_path):
    """lines -> output.aws_sqs -> input.aws_sqs -> parquet, SigV4-signed
    end to end."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p_out = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  aws_sqs:
    url: {_Q}
    endpoint: {server.endpoint}
    region: us-east-1
    access_key: {server.access_key}
    secret_key: {server.secret_key}
""")
    q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    assert server.queue_size(_Q) == 3

    spool = tmp_path / "spool_in"
    p_in = compile_yaml(f"""
input:
  aws_sqs:
    url: {_Q}
    endpoint: {server.endpoint}
    region: us-east-1
    access_key: {server.access_key}
    secret_key: {server.secret_key}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.line = this.value.parse_json("line string").line.uppercase()
        root.mid = this.sqs_message_id
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
    assert all(r.mid.startswith("m-") for r in rows)


def test_lint_knows_aws_sqs():
    from bento_spark.plans.lint import known_inputs

    assert "aws_sqs" in known_inputs()
