"""GCP Pub/Sub connector (reference internal/impl/gcp/
{input,output}_pubsub.go): REST client, RS256 service-account JWT-bearer
auth verified END-TO-END by the mini service's token endpoint,
ack-deadline redelivery, spool bridge and YAML round-trip."""

from __future__ import annotations

import shutil
import subprocess
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.pubsub import (
    MiniPubSubServer,
    PubSubClient,
    pubsub_bridge,
)
from bento_spark.streaming.spool import entries

_OPENSSL = shutil.which("openssl")


@pytest.fixture()
def server():
    s = MiniPubSubServer().start()
    s.create_topic("events")
    yield s
    s.stop()


def test_publish_pull_ack_roundtrip(server):
    c = PubSubClient(server.endpoint)
    c.create_subscription("proj", "sub-a", "events")
    mids = c.publish("proj", "events", [(b"m1", {}), (b"m2", {"k": "v"})])
    assert len(mids) == 2
    got = c.pull("proj", "sub-a", max_messages=10)
    assert len(got) == 2
    import base64

    bodies = sorted(base64.b64decode(g["message"]["data"]) for g in got)
    assert bodies == [b"m1", b"m2"]
    # in-flight until the ack deadline
    assert c.pull("proj", "sub-a") == []
    c.acknowledge("proj", "sub-a", [g["ackId"] for g in got])
    assert server.subscription_size("sub-a") == 0


def test_ack_deadline_redelivers(server):
    server.ack_deadline_s = 0.3
    c = PubSubClient(server.endpoint)
    c.create_subscription("proj", "sub-b", "events")
    c.publish("proj", "events", [(b"again", {})])
    first = c.pull("proj", "sub-b")
    assert first
    time.sleep(0.4)  # no ack -> redelivery
    second = c.pull("proj", "sub-b")
    assert second and second[0]["message"]["messageId"] == \
        first[0]["message"]["messageId"]
    c.acknowledge("proj", "sub-b", [second[0]["ackId"]])


@pytest.fixture()
def sa_keys(tmp_path_factory):
    if _OPENSSL is None:
        pytest.skip("openssl binary unavailable")
    d = tmp_path_factory.mktemp("sa")
    subprocess.run([_OPENSSL, "genrsa", "-out", "sa.pem", "2048"],
                   capture_output=True, cwd=d, check=True)
    subprocess.run([_OPENSSL, "rsa", "-in", "sa.pem", "-pubout",
                    "-out", "sa_pub.pem"], capture_output=True, cwd=d, check=True)
    return ((d / "sa.pem").read_text(), (d / "sa_pub.pem").read_text())


def test_service_account_auth_chain(sa_keys):
    """The mini token endpoint VERIFIES the RS256 assertion with the
    account's public key — wrong keys are rejected, the right key mints
    a bearer that gates every data call."""
    priv, pub = sa_keys
    srv = MiniPubSubServer(
        service_accounts={"svc@proj.iam.gserviceaccount.com": pub}).start()
    srv.create_topic("t")
    try:
        creds = {"client_email": "svc@proj.iam.gserviceaccount.com",
                 "private_key": priv, "token_uri": srv.token_uri}
        c = PubSubClient(srv.endpoint, credentials=creds)
        c.create_subscription("proj", "s", "t")
        c.publish("proj", "t", [(b"authed", {})])
        got = c.pull("proj", "s")
        assert got and got[0]["message"]["messageId"]
        # unauthenticated calls are rejected when accounts are configured
        with pytest.raises(ConnectionError, match="401"):
            PubSubClient(srv.endpoint).publish("proj", "t", [(b"x", {})])
        # an unknown signer is rejected at the token endpoint
        bad = {"client_email": "other@proj.iam.gserviceaccount.com",
               "private_key": priv, "token_uri": srv.token_uri}
        with pytest.raises(ConnectionError, match="401"):
            PubSubClient(srv.endpoint, credentials=bad).publish(
                "proj", "t", [(b"x", {})])
    finally:
        srv.stop()


def test_spooler_acks_after_durability(server, tmp_path):
    c = PubSubClient(server.endpoint)
    c.create_subscription("proj", "sub-c", "events")
    c.publish("proj", "events", [(f"j{i}".encode(), {}) for i in range(4)])
    spool = tmp_path / "spool"
    sp = pubsub_bridge(server.endpoint, "proj", "sub-c", str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(entries(spool)) < 4:
            time.sleep(0.05)
        assert sorted(body for _, body in entries(spool)) == [b"j0", b"j1", b"j2", b"j3"]
        assert server.subscription_size("sub-c") == 0
    finally:
        sp.stop()


def test_yaml_pubsub_roundtrip(spark, server, tmp_path):
    """lines -> output.gcp_pubsub (interpolated topic) -> input.gcp_pubsub
    (create_subscription) -> parquet."""
    spool = tmp_path / "spool_in"
    p_in = compile_yaml(f"""
input:
  gcp_pubsub:
    endpoint: {server.endpoint}
    project: proj
    subscription: spark-sub
    create_subscription: {{enabled: true, topic: events}}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.line = this.value.parse_json("line string").line.uppercase()
        root.mid = this.pubsub_message_id
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
  gcp_pubsub:
    endpoint: {server.endpoint}
    project: proj
    topic: events
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

    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.line for r in rows) == ["R1", "R2", "R3"]
    assert all(r.mid for r in rows)


def test_lint_knows_gcp_pubsub():
    from bento_spark.plans.lint import known_inputs

    assert "gcp_pubsub" in known_inputs()
