"""NATS JetStream family: acknowledged publish output, durable pull-
consumer input, and the nats_kv cache backend (reference
internal/impl/nats/output_jetstream.go, input_jetstream.go,
cache_kv.go). The wire layer is the public headers extension
(HPUB/HMSG) + `$JS.API.*` request-reply against the in-process server."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import Pipeline, compile_yaml
from bento_spark.streaming.nats import (
    JsError,
    MiniNatsServer,
    NatsJsClient,
    jetstream_bridge,
    js_next,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniNatsServer().start()
    yield s
    s.stop()


# ------------------------------------------------------------------ client


def test_js_publish_acks_with_stream_and_seq(server):
    server.add_stream("ORDERS", ["orders.>"])
    c = NatsJsClient(server.host, server.port)
    ack1 = c.js_publish("orders.new", b"o1")
    ack2 = c.js_publish("orders.new", b"o2")
    assert ack1 == {"stream": "ORDERS", "seq": 1}
    assert ack2["seq"] == 2
    c.close()


def test_expected_last_sequence_rejects(server):
    server.add_stream("KV_b", ["$KV.b.>"])
    c = NatsJsClient(server.host, server.port)
    c.js_publish("$KV.b.k", b"v1",
                 headers={"Nats-Expected-Last-Subject-Sequence": "0"})
    with pytest.raises(JsError, match="wrong last sequence"):
        c.js_publish("$KV.b.k", b"v2",
                     headers={"Nats-Expected-Last-Subject-Sequence": "0"})
    c.close()


# ----------------------------------------------------------------- spooler


def test_pull_consumer_spools_and_acks(server, tmp_path):
    server.add_stream("EV", ["ev.>"])
    c = NatsJsClient(server.host, server.port)
    for i in range(3):
        c.js_publish(f"ev.t{i}", f"m{i}".encode())
    sp = jetstream_bridge(host=server.host, port=server.port, stream="EV",
                          durable="d1", spool_dir=str(tmp_path / "spool"),
                          ack_wait_s=30).start()
    try:
        deadline = time.monotonic() + 10
        while len(entries(tmp_path / "spool")) < 3:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.02)
        time.sleep(0.2)  # let the acks land
    finally:
        sp.stop()
    bodies = sorted(body for _, body in entries(tmp_path / "spool"))
    assert bodies == [b"m0", b"m1", b"m2"]
    # all three acked server-side: nothing pending
    cons = server._js_consumers[("EV", "d1")]
    assert cons["pending"] == {} and cons["acked"] == {1, 2, 3}
    c.close()


def test_unacked_delivery_redelivers_after_ack_wait(server):
    server.add_stream("EV", ["ev.>"])
    c = NatsJsClient(server.host, server.port)
    c.js_publish("ev.x", b"only")
    c.js_api("CONSUMER.DURABLE.CREATE.EV.d2",
             {"stream_name": "EV",
              "config": {"durable_name": "d2", "ack_policy": "explicit",
                         "deliver_policy": "all",
                         "ack_wait": int(0.2 * 1e9)}})
    st, _h, payload, reply, subj = js_next(
        c, "CONSUMER.MSG.NEXT.EV.d2")
    assert payload == b"only" and subj == "ev.x" and reply.startswith("$JS.ACK.")
    # no ack -> drained now
    st2, *_ = js_next(c, "CONSUMER.MSG.NEXT.EV.d2")
    assert st2.startswith("404")
    time.sleep(0.3)  # past ack_wait -> redelivery
    st3, _h3, payload3, reply3, _s3 = js_next(
        c, "CONSUMER.MSG.NEXT.EV.d2")
    assert payload3 == b"only"
    c.publish(reply3, b"+ACK")
    c.flush()
    time.sleep(0.1)
    st4, *_ = js_next(c, "CONSUMER.MSG.NEXT.EV.d2")
    assert st4.startswith("404")
    c.close()


def test_deliver_last_policy(server):
    server.add_stream("EV", ["ev.>"])
    c = NatsJsClient(server.host, server.port)
    for i in range(4):
        c.js_publish("ev.a", f"m{i}".encode())
    c.js_api("CONSUMER.DURABLE.CREATE.EV.dl",
             {"stream_name": "EV",
              "config": {"durable_name": "dl", "ack_policy": "explicit",
                         "deliver_policy": "last"}})
    _st, _h, payload, reply, _s = js_next(
        c, "CONSUMER.MSG.NEXT.EV.dl")
    assert payload == b"m3"
    c.publish(reply, b"+ACK")
    c.close()


# --------------------------------------------------------------- kv cache


def test_nats_kv_cache_contract(spark, server):
    from bento_spark.streaming.nats import NatsKvCache

    server.add_stream("KV_cfg", ["$KV.cfg.>"])
    kv = NatsKvCache(spark, f"{server.host}:{server.port}", bucket="cfg")
    df = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    kv.set(df)
    got = kv.get(spark.createDataFrame([("a",), ("b",), ("c",)], "key string"))
    vals = {r.key: r.value for r in got.collect()}
    assert vals == {"a": "1", "b": "2", "c": None}
    # add: existing key rejected, new key accepted
    add_df = spark.createDataFrame([("a", "9"), ("d", "4")], "key string, value string")
    rejected = kv.add(add_df).collect()
    assert [r.key for r in rejected] == ["a"]
    assert {r.key: r.value for r in kv.get(
        spark.createDataFrame([("a",), ("d",)], "key string")).collect()
    } == {"a": "1", "d": "4"}
    # delete writes a DEL marker; reads as absent
    kv.delete(spark.createDataFrame([("b",)], "key string"))
    got2 = kv.get(spark.createDataFrame([("b",)], "key string")).collect()
    assert got2[0].value is None
    # per-entry TTL is rejected loudly (bucket max_age governs expiry)
    with pytest.raises(ValueError, match="TTL"):
        kv.set(df, ttl="10s")


def test_yaml_cache_resource_nats_kv(spark, server, tmp_path):
    server.add_stream("KV_users", ["$KV.users.>"])
    src = tmp_path / "in"
    spark.createDataFrame([("u1", "ada"), ("u2", "bob")],
                          "uid string, name string").write.parquet(str(src))
    p = compile_yaml(f"""
cache_resources:
  - label: users
    nats_kv:
      url: {server.host}:{server.port}
      bucket: users
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - cache: {{resource: users, operator: set, key: uid, columns: [name]}}
""")
    p.build_batch(spark).collect()
    c = NatsJsClient(server.host, server.port)
    _st, _h, data = c.request2("$JS.API.DIRECT.GET.KV_users",
                               json.dumps({"last_by_subj": "$KV.users.u1"}).encode())
    assert data == b"ada"
    c.close()


# -------------------------------------------------------------------- YAML


def test_yaml_jetstream_roundtrip(spark, server, tmp_path):
    server.add_stream("CLIPS", ["clips.>"])
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 5)
    p_out = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.clip_id
output:
  nats_jetstream:
    urls: [nats://{server.host}:{server.port}]
    subject: clips.${{! this.clip_id }}
""")
    q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination(90)
    assert server._js_streams["CLIPS"]["seq"] == 5

    p_in = compile_yaml(f"""
input:
  nats_jetstream:
    urls: [nats://{server.host}:{server.port}]
    stream: CLIPS
    durable: reader
    spool_dir: {tmp_path / "spool"}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.value.parse_json("clip_id string").clip_id
        root.subject = this.nats_subject
        root.seq = this.nats_sequence
output:
  path: {tmp_path / "sink"}
""")
    sp = p_in.start_bridge()
    try:
        deadline = time.monotonic() + 15
        while len(entries(tmp_path / "spool")) < 5:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.05)
        q2 = p_in.run_stream(spark, checkpoint=str(tmp_path / "ck2"))
        q2.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = IdempotentParquetSink(str(tmp_path / "sink")).read(spark).collect()
    ids = [f"clip-{i:012d}" for i in range(5)]
    assert sorted(r.clip_id for r in rows) == ids
    assert sorted(r.subject for r in rows) == [f"clips.{c}" for c in ids]
    assert sorted(r.seq for r in rows) == [1, 2, 3, 4, 5]


# ------------------------------------------------------------ object store


def test_object_store_put_get_multichunk(server):
    from bento_spark.streaming.nats import NatsObjectStore

    server.add_stream("OBJ_blobs", ["$O.blobs.C.>", "$O.blobs.M.>"])
    c = NatsJsClient(server.host, server.port)
    store = NatsObjectStore(c, "blobs", chunk_size=8)
    data = b"0123456789abcdefghij"  # 3 chunks at size 8
    meta = store.put("docs/a.bin", data)
    assert meta["chunks"] == 3 and meta["size"] == 20
    assert meta["digest"].startswith("SHA-256=")
    assert store.get("docs/a.bin") == data
    # overwrite rolls up to the new version
    store.put("docs/a.bin", b"v2")
    assert store.get("docs/a.bin") == b"v2"
    with pytest.raises(KeyError, match="not found"):
        store.get("missing")
    c.close()


def test_object_store_digest_mismatch_detected(server):
    from bento_spark.streaming.nats import NatsObjectStore, _os_name_b64

    server.add_stream("OBJ_b2", ["$O.b2.C.>", "$O.b2.M.>"])
    c = NatsJsClient(server.host, server.port)
    store = NatsObjectStore(c, "b2", chunk_size=64)
    meta = store.put("x", b"payload")
    meta["digest"] = "SHA-256=AAAA"  # corrupt the recorded digest
    c.js_publish(f"$O.b2.M.{_os_name_b64('x')}", json.dumps(meta).encode(),
                 headers={"Nats-Rollup": "sub"})
    with pytest.raises(ConnectionError, match="digest mismatch"):
        store.get("x")
    c.close()


def test_yaml_object_store_roundtrip(spark, server, tmp_path):
    server.add_stream("OBJ_media", ["$O.media.C.>", "$O.media.M.>"])
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 3)
    p_out = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: 'root = {{"clip_id": this.clip_id}}'
output:
  nats_object_store:
    urls: [nats://{server.host}:{server.port}]
    bucket: media
    object_name: ${{! this.clip_id }}.json
    chunk_size: 16
""")
    q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination(90)

    # processor get fetches one object per row
    keys = tmp_path / "keys"
    spark.createDataFrame([("clip-000000000001",)], "cid string"
                          ).write.parquet(str(keys))
    p_get = compile_yaml(f"""
input:
  parquet: {{path: {keys}}}
pipeline:
  processors:
    - nats_object_store:
        urls: [nats://{server.host}:{server.port}]
        bucket: media
        operation: get
        object_name: ${{! this.cid }}.json
""")
    row = p_get.build_batch(spark).collect()[0]
    assert json.loads(bytes(row.nats_os))["clip_id"] == "clip-000000000001"

    # input side: watch the bucket, objects arrive as messages
    p_in = compile_yaml(f"""
input:
  nats_object_store:
    urls: [nats://{server.host}:{server.port}]
    bucket: media
    spool_dir: {tmp_path / "spool"}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.value.parse_json("clip_id string").clip_id
        root.name = this.nats_object_name
        root.size = this.nats_object_size
output:
  path: {tmp_path / "sink"}
""")
    sp = p_in.start_bridge()
    try:
        deadline = time.monotonic() + 15
        while len(entries(tmp_path / "spool")) < 3:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.05)
        q2 = p_in.run_stream(spark, checkpoint=str(tmp_path / "ck2"))
        q2.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = IdempotentParquetSink(str(tmp_path / "sink")).read(spark).collect()
    ids = [f"clip-{i:012d}" for i in range(3)]
    assert sorted(r.clip_id for r in rows) == ids
    assert sorted(r.name for r in rows) == [f"{c}.json" for c in ids]
    assert all(r.size > 16 for r in rows)  # multi-chunk objects
