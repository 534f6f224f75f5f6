"""Azure Queue Storage connector (reference internal/impl/azure/
input_queue_storage.go, output_queue_storage.go): SharedKey REST client,
pop receipts + visibility-timeout redelivery, spooler input, Put Message
output, YAML wiring — against the signature-verifying MiniAzureQueueServer."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.inputs import read_input
from bento_spark.streaming.azure_queue import (
    AzureQueueClient,
    MiniAzureQueueServer,
    azure_queue_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniAzureQueueServer().start()
    yield s
    s.stop()


def _client(server):
    return AzureQueueClient(server.endpoint, server.account, server.account_key)


def test_put_get_delete_with_pop_receipt(server):
    c = _client(server)
    c.put_message("q", "hello <world> & co")
    msgs = c.get_messages("q", num=5, visibility_timeout_s=30)
    assert len(msgs) == 1
    assert msgs[0]["text"] == "hello <world> & co"
    # invisible while claimed
    assert c.get_messages("q", num=5) == []
    c.delete_message("q", msgs[0]["id"], msgs[0]["pop_receipt"])
    assert server.queue_size("q") == 0


def test_visibility_timeout_redelivers(server):
    c = _client(server)
    c.put_message("q", "retry-me")
    first = c.get_messages("q", num=1, visibility_timeout_s=1)
    assert len(first) == 1  # claimed, NOT deleted
    time.sleep(1.1)
    again = c.get_messages("q", num=1, visibility_timeout_s=30)
    assert [m["text"] for m in again] == ["retry-me"]
    # a stale pop receipt no longer deletes
    with pytest.raises(ConnectionError, match="404"):
        c.delete_message("q", first[0]["id"], first[0]["pop_receipt"])
    c.delete_message("q", again[0]["id"], again[0]["pop_receipt"])


def test_bad_key_rejected(server):
    import base64

    bad = AzureQueueClient(server.endpoint, server.account,
                           base64.b64encode(b"wrong").decode())
    with pytest.raises(ConnectionError, match="403"):
        bad.put_message("q", "x")


def test_spooler_to_stream(server, spark, tmp_path):
    c = _client(server)
    for i in range(3):
        c.put_message("feed", json.dumps({"n": i}))
    spool = str(tmp_path / "spool")
    sp = azure_queue_bridge(endpoint=server.endpoint, account=server.account,
                           account_key=server.account_key, queue="feed",
                           spool_dir=spool).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and server.queue_size("feed") > 0:
            time.sleep(0.05)
        assert server.queue_size("feed") == 0  # deleted after spooling
        assert sp.error is None
    finally:
        sp.stop()
    df = read_input(spark, {"azure_queue_storage": {"spool_dir": spool}}, True)
    q = (df.writeStream.format("memory").queryName("azq_e2e")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = spark.sql("select queue_storage_message_id, value from azq_e2e "
                     "order by queue_storage_message_id").collect()
    assert [json.loads(r.value)["n"] for r in rows] == [0, 1, 2]
    assert all(r.queue_storage_message_id.startswith("m-") for r in rows)


def test_yaml_queue_output_stream(server, spark, tmp_path):
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
output:
  azure_queue_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    queue_name: sink-q
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    c = _client(server)
    msgs = c.get_messages("sink-q", num=10)
    assert sorted(json.loads(m["text"])["word"] for m in msgs) == ["dog", "emu"]


def test_yaml_queue_input_stream(server, spark, tmp_path):
    c = _client(server)
    for w in ("ant", "bee"):
        c.put_message("in-q", json.dumps({"w": w}))
    spool = tmp_path / "spool"
    p = compile_yaml(f"""
input:
  azure_queue_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    queue_name: in-q
    dequeue_visibility_timeout: 30s
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
