"""AWS S3 message-level connector (reference internal/impl/aws/input_s3.go,
output_s3.go, cache_s3.go): REST + SigV4 client, listing/SQS-notified
spooler input, per-message PutObject output, object-per-key cache —
against the signature-verifying MiniS3Server."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.inputs import read_input
from bento_spark.streaming.s3 import (
    MiniS3Server,
    NoSuchKeyError,
    S3Client,
    _extract_paths,
    canonical_query,
    s3_bridge,
    sigv4_verify_request,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniS3Server().start()
    s.create_bucket("bkt")
    yield s
    s.stop()


def _client(server):
    return S3Client(server.endpoint, server.access_key, server.secret_key)


# --------------------------------------------------------------------------
# client + signing
# --------------------------------------------------------------------------


def test_put_get_head_delete(server):
    c = _client(server)
    c.put_object("bkt", "a/b.txt", b"hello", content_type="text/plain")
    body, headers = c.get_object("bkt", "a/b.txt")
    assert body == b"hello" and headers["content-type"] == "text/plain"
    assert c.head_object("bkt", "a/b.txt")
    c.delete_object("bkt", "a/b.txt")
    assert not c.head_object("bkt", "a/b.txt")
    with pytest.raises(NoSuchKeyError):
        c.get_object("bkt", "a/b.txt")


def test_special_chars_in_key_survive_signing(server):
    """Keys with spaces/unicode exercise the SigV4 UriEncode path — a
    wrong canonical URI breaks the server's recomputed signature."""
    c = _client(server)
    key = "dir with space/f=η (1).json"
    c.put_object("bkt", key, b"{}")
    assert c.get_object("bkt", key)[0] == b"{}"
    assert [o["key"] for o in c.list_objects("bkt", prefix="dir with")] == [key]


def test_bad_secret_rejected(server):
    bad = S3Client(server.endpoint, server.access_key, "wrong")
    with pytest.raises(ConnectionError, match="403"):
        bad.put_object("bkt", "k", b"v")


def test_sigv4_verify_rejects_tampering():
    from bento_spark.streaming.s3 import sigv4_rest_headers

    headers = sigv4_rest_headers("PUT", "h:1", "/bkt/k", "", b"body",
                                 "AK", "SK", "us-east-1")
    headers["Host"] = "h:1"
    assert sigv4_verify_request("PUT", "/bkt/k", "", headers, b"body", "SK")
    # payload tamper
    assert not sigv4_verify_request("PUT", "/bkt/k", "", headers, b"evil", "SK")
    # path tamper
    assert not sigv4_verify_request("PUT", "/bkt/x", "", headers, b"body", "SK")
    # wrong secret
    assert not sigv4_verify_request("PUT", "/bkt/k", "", headers, b"body", "XX")


def test_list_objects_prefix_and_pagination(server):
    c = _client(server)
    for i in range(5):
        c.put_object("bkt", f"logs/{i:03d}.txt", b"x" * (i + 1))
    c.put_object("bkt", "other/ignored.txt", b"zz")
    got = c.list_objects("bkt", prefix="logs/", page_size=2)  # 3 pages
    assert [o["key"] for o in got] == [f"logs/{i:03d}.txt" for i in range(5)]
    assert [o["size"] for o in got] == [1, 2, 3, 4, 5]


def test_canonical_query_sorted_and_encoded():
    q = canonical_query([("prefix", "a b/c"), ("list-type", "2")])
    assert q == "list-type=2&prefix=a%20b%2Fc"


def test_extract_paths_wildcard():
    note = {"Records": [
        {"s3": {"object": {"key": "k1"}, "bucket": {"name": "b1"}}},
        {"s3": {"object": {"key": "k2"}, "bucket": {"name": "b2"}}},
    ]}
    assert _extract_paths(note, "Records.*.s3.object.key") == ["k1", "k2"]
    assert _extract_paths(note, "Records.*.s3.bucket.name") == ["b1", "b2"]
    assert _extract_paths({}, "Records.*.s3.object.key") == []


# --------------------------------------------------------------------------
# input spooler (listing + SQS-notification modes) -> Spark stream
# --------------------------------------------------------------------------


def test_listing_spooler_end_to_end(server, spark, tmp_path):
    c = _client(server)
    c.put_object("bkt", "in/a.json", b'{"n": 1}')
    c.put_object("bkt", "in/b.json", b'{"n": 2}')
    c.put_object("bkt", "in/empty.json", b"")  # 0-byte object must survive
    c.put_object("bkt", "skip/c.json", b'{"n": 3}')
    spool = str(tmp_path / "spool")
    sp = s3_bridge(endpoint=server.endpoint, bucket="bkt",
                   access_key=server.access_key, secret_key=server.secret_key,
                   spool_dir=spool, prefix="in/").start()
    try:
        assert sp.wait_finished(20) and sp.error is None
    finally:
        sp.stop()
    df = read_input(spark, {"aws_s3": {"spool_dir": spool}}, True)
    q = (df.writeStream.format("memory").queryName("s3_e2e")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = spark.sql(
        "select s3_bucket, s3_key, value from s3_e2e order by s3_key").collect()
    assert [(r.s3_key, r.value) for r in rows] == [
        ("in/a.json", '{"n": 1}'), ("in/b.json", '{"n": 2}'),
        ("in/empty.json", ""),
    ]
    assert all(r.s3_bucket == "bkt" for r in rows)
    # objects left in place (delete_objects defaults false)
    assert server.keys("bkt") == ["in/a.json", "in/b.json", "in/empty.json",
                                  "skip/c.json"]


def test_listing_spooler_keeps_a_key_too_long_for_a_file_name(server, tmp_path):
    """Bucket and key ride the spool header, so a key whose hex form would
    overflow a 255-byte file name is spooled intact."""
    key = "warehouse/raw/events/year=2026/month=10/day=18/hour=08/part-00000-6f1c2e3a.snappy.parquet"
    _client(server).put_object("bkt", key, b"p")
    sp = s3_bridge(endpoint=server.endpoint, bucket="bkt",
                   access_key=server.access_key, secret_key=server.secret_key,
                   spool_dir=str(tmp_path / "sp")).start()
    try:
        assert sp.wait_finished(20) and sp.error is None
    finally:
        sp.stop()
    assert [(m["s3_bucket"], m["s3_key"], body) for m, body in entries(tmp_path / "sp")] == [
        ("bkt", key, b"p")]


def test_listing_spooler_delete_objects(server, tmp_path):
    c = _client(server)
    c.put_object("bkt", "d/x.txt", b"1")
    c.put_object("bkt", "d/y.txt", b"2")
    sp = s3_bridge(endpoint=server.endpoint, bucket="bkt",
                   access_key=server.access_key, secret_key=server.secret_key,
                   spool_dir=str(tmp_path / "sp"), prefix="d/",
                   delete_objects=True).start()
    try:
        assert sp.wait_finished(20)
    finally:
        sp.stop()
    assert server.keys("bkt") == []
    assert len(entries(tmp_path / "sp")) == 2


def test_sqs_notification_mode(server, tmp_path):
    """input_s3.go `sqs:` block: objects arrive via S3 event notifications
    on an SQS queue (key percent-encoded, the S3 notification format);
    the message is deleted only after the object is spooled."""
    from bento_spark.streaming.sqs import MiniSqsServer, SqsClient

    sqs_srv = MiniSqsServer(access_key=server.access_key,
                            secret_key=server.secret_key).start()
    try:
        c = _client(server)
        c.put_object("bkt", "evt/hello world.json", b'{"ok": true}')
        note = json.dumps({"Records": [{"s3": {
            "bucket": {"name": "bkt"},
            "object": {"key": "evt/hello+world.json"},  # S3 encodes spaces
        }}]})
        q_url = f"{sqs_srv.endpoint}/q/notifications"
        SqsClient(sqs_srv.endpoint, server.access_key,
                  server.secret_key).send_message(q_url, note)
        sp = s3_bridge(endpoint=server.endpoint, bucket="bkt",
                       access_key=server.access_key,
                       secret_key=server.secret_key,
                       spool_dir=str(tmp_path / "sp"),
                       sqs_queue_url=q_url, sqs_endpoint=sqs_srv.endpoint).start()
        try:
            deadline = time.monotonic() + 15
            while time.monotonic() < deadline:
                if entries(tmp_path / "sp"):
                    break
                time.sleep(0.05)
            got = entries(tmp_path / "sp")
            assert len(got) == 1
            assert got[0][1] == b'{"ok": true}'
            # notification acked after spool
            deadline = time.monotonic() + 5
            while time.monotonic() < deadline and sqs_srv.queue_size(q_url):
                time.sleep(0.05)
            assert sqs_srv.queue_size(q_url) == 0
        finally:
            sp.stop()
    finally:
        sqs_srv.stop()


# --------------------------------------------------------------------------
# YAML wiring: input.aws_s3 / output.aws_s3 / aws_s3 cache backend
# --------------------------------------------------------------------------


def test_yaml_s3_output_interpolated_path(server, spark, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id int, name string"
    ).write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}, schema: 'id int, name string'}}
pipeline:
  processors:
    - mapping: |
        root.id = this.id
        root.name = this.name.uppercase()
output:
  aws_s3:
    endpoint: {server.endpoint}
    bucket: bkt
    region: us-east-1
    access_key: {server.access_key}
    secret_key: {server.secret_key}
    path: 'out/${{! this.id }}.json'
    content_type: application/json
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    assert server.keys("bkt") == ["out/1.json", "out/2.json"]
    doc = json.loads(server.object("bkt", "out/2.json"))
    assert doc == {"id": 2, "name": "BETA"}


def test_yaml_s3_input_stream(server, spark, tmp_path):
    c = _client(server)
    for i in range(3):
        c.put_object("bkt", f"in/{i}.txt", f"line-{i}".encode())
    spool = tmp_path / "spool"
    p = compile_yaml(f"""
input:
  aws_s3:
    endpoint: {server.endpoint}
    bucket: bkt
    prefix: in/
    access_key: {server.access_key}
    secret_key: {server.secret_key}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.key = this.s3_key
        root.body = this.value.uppercase()
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        assert sp.wait_finished(20)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = sorted((r.key, r.body) for r in p.sink.read(spark).collect())
    assert rows == [("in/0.txt", "LINE-0"), ("in/1.txt", "LINE-1"),
                    ("in/2.txt", "LINE-2")]


def test_yaml_s3_cache_resource(server, spark, tmp_path):
    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (1, "alpha2")], "id int, name string"
    ).write.parquet(str(src))
    resources = f"""
cache_resources:
  - label: s3c
    aws_s3:
      endpoint: {server.endpoint}
      bucket: bkt
      access_key: {server.access_key}
      secret_key: {server.secret_key}
"""
    setter = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
{resources}
pipeline:
  processors:
    - mapping: |
        root.k = this.id.string()
        root.name = this.name
    - cache: {{resource: s3c, operator: set, key: k, columns: [name]}}
""")
    setter.build_batch(spark)
    # one object per key, value = the column
    assert set(server.keys("bkt")) == {"1", "2"}
    getter = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
{resources}
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: s3c, operator: get, key: k}}
""")
    rows = {(r.id, r.value) for r in getter.build_batch(spark).collect()}
    assert {v for _i, v in rows} <= {"alpha", "alpha2", "beta"}
    assert {i for i, _v in rows} == {1, 2}


def test_s3_cache_add_and_delete_contract(server, spark):
    from bento_spark.streaming.s3 import S3Cache

    cache = S3Cache(spark, server.endpoint, "bkt",
                    server.access_key, server.secret_key)
    df1 = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], "key string, value string")
    # add returns the REJECTED rows (cache contract: callers error-route them)
    assert cache.add(df1).count() == 0
    # second add on an existing key is rejected (ErrKeyAlreadyExists)
    df2 = spark.createDataFrame([("k1", "OTHER"), ("k3", "v3")], "key string, value string")
    rejected = {r.key for r in cache.add(df2).collect()}
    assert rejected == {"k1"}
    assert server.object("bkt", "k1") == b"v1"  # not clobbered
    enriched = cache.get(spark.createDataFrame(
        [("k1",), ("k3",), ("nope",)], "key string"))
    got = {r.key: r.value for r in enriched.collect()}
    assert got == {"k1": "v1", "k3": "v3", "nope": None}
    cache.delete(spark.createDataFrame([("k1",)], "key string"))
    assert server.object("bkt", "k1") is None


def test_s3_cache_get_replaces_bytes_that_are_not_utf8(server, spark):
    # one undecodable object must not fail the task: bad bytes decode to
    # U+FFFD, the rule of every other backend
    from bento_spark.streaming.s3 import S3Cache

    _client(server).put_object("bkt", "bin", b"\xff\xfe")
    cache = S3Cache(spark, server.endpoint, "bkt",
                    server.access_key, server.secret_key)
    got = cache.get(spark.createDataFrame([("bin",)], "key string")).collect()
    assert got[0].value == "\ufffd\ufffd"


def test_lint_knows_aws_s3_sections():
    from bento_spark.plans.lint import lint_yaml

    ok = """
input:
  aws_s3: {bucket: b, spool_dir: /tmp/sp}
pipeline:
  processors:
    - mapping: 'root.x = this.value'
output:
  aws_s3: {bucket: b, path: 'x/${! this.x }.json'}
"""
    assert lint_yaml(ok) == []
