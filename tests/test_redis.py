"""Redis connectors: dependency-free RESP2 client (streaming/redis.py)
driven end-to-end against the in-process server — protocol vectors,
command semantics (TTL/NX, blocking pops, consumer groups), the three
spool-bridge inputs, and the distributed SCAN batch input."""

from __future__ import annotations

import json
import threading
import time

import pytest

from bento_spark.streaming.redis import (
    MiniRedisServer,
    RedisClient,
    RedisError,
    encode_command,
    parse_redis_url,
    read_redis_scan,
    redis_list_bridge,
    redis_pubsub_bridge,
    redis_streams_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniRedisServer().start()
    yield s
    s.stop()


@pytest.fixture()
def client(server):
    c = RedisClient(server.host, server.port)
    yield c
    c.close()


def test_resp_encoding_vector():
    # redis.io RESP spec example: SET mykey myvalue
    assert encode_command("SET", "mykey", "myvalue") == (
        b"*3\r\n$3\r\nSET\r\n$5\r\nmykey\r\n$7\r\nmyvalue\r\n"
    )


def test_parse_redis_url():
    assert parse_redis_url("redis://h:7000") == ("h", 7000)
    assert parse_redis_url("tcp://h:7000/4") == ("h", 7000)
    assert parse_redis_url("h:7000") == ("h", 7000)
    assert parse_redis_url("redis://localhost") == ("localhost", 6379)


def test_strings_ttl_nx(client):
    assert client.cmd("PING") == "PONG"
    assert client.cmd("SET", "k", "v1") == "OK"
    assert client.cmd("GET", "k") == b"v1"
    assert client.cmd("GET", "absent") is None
    # NX refuses an existing key
    assert client.cmd("SET", "k", "v2", "NX") is None
    assert client.cmd("GET", "k") == b"v1"
    # PX expiry
    assert client.cmd("SET", "tmp", "x", "PX", "60") == "OK"
    assert client.cmd("GET", "tmp") == b"x"
    time.sleep(0.09)
    assert client.cmd("GET", "tmp") is None
    # MGET preserves order with nulls
    client.cmd("SET", "a", "1")
    assert client.cmd("MGET", "a", "nope", "k") == [b"1", None, b"v1"]
    assert client.cmd("INCRBY", "ctr", "5") == 5
    assert client.cmd("INCR", "ctr") == 6
    with pytest.raises(RedisError):
        client.cmd("NOSUCHCMD")


def test_lists_and_blocking_pop(server, client):
    client.cmd("RPUSH", "l", "a", "b")
    client.cmd("LPUSH", "l", "z")
    assert client.cmd("LRANGE", "l", "0", "-1") == [b"z", b"a", b"b"]
    assert client.cmd("LLEN", "l") == 3
    assert client.cmd("LPOP", "l") == b"z"
    # BLPOP blocks until another connection pushes
    def push_later():
        time.sleep(0.2)
        c2 = RedisClient(server.host, server.port)
        c2.cmd("RPUSH", "bl", "wake")
        c2.close()

    threading.Thread(target=push_later, daemon=True).start()
    assert client.cmd("BLPOP", "bl", "5") == [b"bl", b"wake"]
    # and times out clean
    assert client.cmd("BLPOP", "bl", "0.1") is None


def test_hashes_sets(client):
    client.cmd("HSET", "h", "f1", "v1", "f2", "v2")
    assert client.cmd("HGET", "h", "f1") == b"v1"
    got = client.cmd("HGETALL", "h")
    assert dict(zip(got[::2], got[1::2])) == {b"f1": b"v1", b"f2": b"v2"}
    assert client.cmd("HDEL", "h", "f1") == 1
    assert client.cmd("SADD", "s", "x", "y", "x") == 2
    assert client.cmd("SCARD", "s") == 2
    assert client.cmd("SISMEMBER", "s", "x") == 1
    assert client.cmd("SMEMBERS", "s") == [b"x", b"y"]


def test_keys_scan_glob(client):
    for k in ("user:1", "user:2", "order:1"):
        client.cmd("SET", k, "v")
    assert client.cmd("KEYS", "user:*") == [b"user:1", b"user:2"]
    cur, keys = client.cmd("SCAN", "0", "MATCH", "order:*", "COUNT", "10")
    assert cur == b"0" and keys == [b"order:1"]


def test_pipeline_round_trip(client):
    replies = client.pipeline([("SET", "p1", "a"), ("SET", "p2", "b"),
                               ("MGET", "p1", "p2"), ("NOPE",)])
    assert replies[0] == "OK" and replies[1] == "OK"
    assert replies[2] == [b"a", b"b"]
    assert isinstance(replies[3], RedisError)  # per-command error, batch survives


def test_pubsub_with_patterns(server):
    sub = RedisClient(server.host, server.port)
    sub.subscribe(["news.*"], patterns=True)
    pub = RedisClient(server.host, server.port)
    assert pub.cmd("PUBLISH", "news.uk", "hello") == 1
    assert pub.cmd("PUBLISH", "sport.uk", "nope") == 0
    assert sub.get_message() == ("news.uk", b"hello")
    pub.close()
    sub.close()


def test_streams_consumer_group(client):
    id1 = client.cmd("XADD", "st", "*", "body", "m1")
    client.cmd("XADD", "st", "*", "body", "m2", "src", "a")
    assert client.cmd("XLEN", "st") == 2
    rng = client.cmd("XRANGE", "st", "-", "+")
    assert len(rng) == 2 and rng[0][0] == id1
    client.cmd("XGROUP", "CREATE", "st", "g1", "0")
    got = client.cmd("XREADGROUP", "GROUP", "g1", "c1", "COUNT", "10",
                     "BLOCK", "100", "STREAMS", "st", ">")
    [(stream, entries)] = got
    assert stream == b"st" and len(entries) == 2
    assert client.cmd("XPENDING", "st", "g1") == 2
    assert client.cmd("XACK", "st", "g1", entries[0][0]) == 1
    assert client.cmd("XPENDING", "st", "g1") == 1
    # nothing new -> block times out with nil
    assert client.cmd("XREADGROUP", "GROUP", "g1", "c1", "BLOCK", "50",
                      "STREAMS", "st", ">") is None


def test_list_spooler(server, tmp_path):
    spool = tmp_path / "l"
    sp = redis_list_bridge(server.host, server.port, str(spool), key="jobs").start()
    try:
        c = RedisClient(server.host, server.port)
        for i in range(4):
            c.cmd("RPUSH", "jobs", f"m{i}")
        c.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 4:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        sp.stop()
    assert [body for _, body in entries(spool)] == [b"m0", b"m1", b"m2", b"m3"]


def test_pubsub_spooler_patterns(server, tmp_path):
    spool = tmp_path / "ps"
    sp = redis_pubsub_bridge(server.host, server.port, str(spool),
                            channels=["ev.*"], use_patterns=True).start()
    try:
        c = RedisClient(server.host, server.port)
        c.cmd("PUBLISH", "ev.a", "one")
        c.cmd("PUBLISH", "other", "nope")
        c.cmd("PUBLISH", "ev.b", "two")
        c.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        sp.stop()
    got = entries(spool)
    assert [body for _, body in got] == [b"one", b"two"]
    # the channel rides the spool header
    assert got[0][0]["redis_channel"] == "ev.a"


def test_streams_spooler_acks_after_spool(server, tmp_path):
    spool = tmp_path / "xs"
    c = RedisClient(server.host, server.port)
    c.cmd("XADD", "s1", "*", "body", "m1", "origin", "unit")
    sp = redis_streams_bridge(server.host, server.port, str(spool),
                             streams=["s1"], consumer_group="g").start()
    try:
        c.cmd("XADD", "s1", "*", "body", "m2")
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        # everything spooled got acked — PEL drains to zero
        deadline = time.monotonic() + 5
        while c.cmd("XPENDING", "s1", "g") != 0:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        sp.stop()
        c.close()
    meta, body = entries(spool)[0]
    assert body == b"m1" and meta["redis_stream"] == "s1"
    assert meta["redis_meta"] == {"origin": "unit"}


def test_read_redis_scan_distributed(spark, server):
    c = RedisClient(server.host, server.port)
    for i in range(25):
        c.cmd("SET", f"doc:{i:02d}", f"v{i}")
    c.cmd("SET", "other", "x")
    c.close()
    df = read_redis_scan(spark, server.host, server.port, match="doc:*")
    rows = {r.key: r.value for r in df.collect()}
    assert len(rows) == 25 and rows["doc:07"] == "v7"


def test_yaml_redis_pubsub_input_end_to_end(spark, server, tmp_path):
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.sink import IdempotentParquetSink

    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  redis_pubsub:
    url: tcp://{server.host}:{server.port}
    channels: ["news.*"]
    use_patterns: true
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.chan = this.redis_channel
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        pub = RedisClient(server.host, server.port)
        deadline = time.monotonic() + 10
        while int(pub.cmd("PUBLISH", "news.x", "probe")) < 1:
            assert time.monotonic() < deadline, "subscriber never registered"
            time.sleep(0.05)
        pub.cmd("PUBLISH", "news.y", "cold")
        pub.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = sorted(
        (r.chan, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("news.x", "PROBE"), ("news.y", "COLD")]


def test_yaml_redis_list_roundtrip(spark, server, tmp_path):
    """output.redis_list publishes, input.redis_list consumes — the two
    halves meet in one live server."""
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.sink import IdempotentParquetSink

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    q = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  redis_list:
    url: tcp://{server.host}:{server.port}
    key: jobs
""").run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    direct = RedisClient(server.host, server.port)
    assert int(direct.cmd("LLEN", "jobs")) == 3
    direct.close()

    spool = tmp_path / "spool_list"
    p = compile_yaml(f"""
input:
  redis_list:
    url: tcp://{server.host}:{server.port}
    key: jobs
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: 'root.line = this.value.parse_json("line string").line'
output:
  path: {tmp_path}/out2
""")
    sp = p.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q2 = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in2"))
        q2.awaitTermination(90)
    finally:
        sp.stop()
    got = sorted(
        r.line for r in IdempotentParquetSink(str(tmp_path / "out2")).read(spark).collect()
    )
    assert got == ["r1", "r2", "r3"]


def test_yaml_redis_scan_batch_input(spark, server):
    from bento_spark.plans.compiler import compile_yaml

    direct = RedisClient(server.host, server.port)
    for i in range(5):
        direct.cmd("SET", f"doc:{i}", f"v{i}")
    direct.cmd("SET", "other", "x")
    direct.close()
    df = compile_yaml(f"""
input:
  redis_scan:
    url: tcp://{server.host}:{server.port}
    match: "doc:*"
pipeline:
  processors:
    - mapping: 'root.key = this.key'
""").build_batch(spark)
    assert sorted(r.key for r in df.collect()) == [f"doc:{i}" for i in range(5)]


def test_lint_knows_redis():
    from bento_spark.plans.lint import known_inputs

    for name in ("redis_list", "redis_pubsub", "redis_streams", "redis_scan"):
        assert name in known_inputs()


def test_yaml_redis_streams_and_hash_outputs(spark, server, tmp_path):
    from bento_spark.plans.compiler import compile_yaml

    src = tmp_path / "srcsh"
    src.mkdir()
    (src / "a.txt").write_text("x\ny")
    compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  redis_streams:
    url: tcp://{server.host}:{server.port}
    stream: events
""").run_stream(spark, checkpoint=str(tmp_path / "ckpt_s")).awaitTermination(90)
    direct = RedisClient(server.host, server.port)
    assert int(direct.cmd("XLEN", "events")) == 2
    entries = direct.cmd("XRANGE", "events", "-", "+")
    bodies = sorted(json.loads(dict(zip(kv[::2], kv[1::2]))[b"body"])["line"]
                    for _id, kv in entries)
    assert bodies == ["x", "y"]

    compile_yaml(f"""
input:
  lines:
    path: {src}
pipeline:
  processors:
    - mapping: 'root.hk = "h:" + this.line'
output:
  redis_hash:
    url: tcp://{server.host}:{server.port}
    key: "${{! hk }}"
    fields: [line]
""").run_stream(spark, checkpoint=str(tmp_path / "ckpt_h")).awaitTermination(90)
    got = direct.cmd("HGETALL", "h:x")
    assert got == [b"line", b"x"]
    direct.close()
