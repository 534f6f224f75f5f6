"""AWS Kinesis connector (reference internal/impl/aws/
{input,output}_kinesis.go): JSON protocol over SigV4, real MD5
partition-key shard routing, shard-iterator paging, checkpoint resume,
YAML round-trip — against the signature-verifying MiniKinesisServer."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.kinesis import (
    KinesisClient,
    MiniKinesisServer,
    kinesis_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniKinesisServer(num_shards=2).start()
    yield s
    s.stop()


def test_put_get_roundtrip_and_shard_routing(server):
    c = KinesisClient(server.endpoint, server.access_key, server.secret_key)
    c.put_records("events", [(f"m{i}".encode(), f"key-{i}") for i in range(20)])
    sizes = server.shard_sizes("events")
    assert sum(sizes.values()) == 20
    assert all(v > 0 for v in sizes.values())  # md5 routing spreads keys
    # same key always lands on the same shard
    c.put_records("events", [(b"a", "fixed"), (b"b", "fixed")])
    sizes2 = server.shard_sizes("events")
    grown = [s for s in sizes2 if sizes2[s] - sizes[s] == 2]
    assert len(grown) == 1
    # read a shard from the beginning, then page from the last sequence
    shard = sorted(server.shard_sizes("events"))[0]
    it = c.get_shard_iterator("events", shard)
    recs, nxt = c.get_records(it, limit=5)
    assert len(recs) == 5
    recs2, _ = c.get_records(nxt)
    assert recs2 and recs2[0]["SequenceNumber"] > recs[-1]["SequenceNumber"]


def test_bad_signature_rejected(server):
    c = KinesisClient(server.endpoint, server.access_key, "nope")
    with pytest.raises(ConnectionError, match="403"):
        c.list_shards("events")


def test_spooler_checkpoint_resume(server, tmp_path):
    c = KinesisClient(server.endpoint, server.access_key, server.secret_key)
    c.put_records("logs", [(b"one", "k1")])
    spool = tmp_path / "spool"
    sp = kinesis_bridge(server.endpoint, ["logs"], server.access_key,
                        server.secret_key, str(spool)).start()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(entries(spool)) < 1:
        time.sleep(0.05)
    sp.stop()
    assert (spool / ".sequences.json").exists()
    # produce while down; restart resumes AFTER the checkpointed sequence
    c.put_records("logs", [(b"two", "k1")])
    sp2 = kinesis_bridge(server.endpoint, ["logs"], server.access_key,
                         server.secret_key, str(spool)).start()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(entries(spool)) < 2:
        time.sleep(0.05)
    sp2.stop()
    # each spooler run numbers its files from 1: order by sequence number
    got = sorted(entries(spool), key=lambda e: int(e[0]["kinesis_sequence"]))
    assert [body for _, body in got] == [b"one", b"two"]


def test_yaml_kinesis_roundtrip(spark, server, tmp_path):
    """lines -> output.aws_kinesis (interpolated partition key) ->
    input.aws_kinesis -> parquet, metadata columns included."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p_out = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  aws_kinesis:
    stream: events
    partition_key: pk-${{! this.line }}
    endpoint: {server.endpoint}
    region: us-east-1
    access_key: {server.access_key}
    secret_key: {server.secret_key}
""")
    q = p_out.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    assert sum(server.shard_sizes("events").values()) == 3

    spool = tmp_path / "spool_in"
    p_in = compile_yaml(f"""
input:
  aws_kinesis:
    streams: [events]
    endpoint: {server.endpoint}
    region: us-east-1
    access_key: {server.access_key}
    secret_key: {server.secret_key}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.line = this.value.parse_json("line string").line.uppercase()
        root.pk = this.kinesis_partition_key
        root.shard = this.kinesis_shard
""")
    sp = p_in.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        out = tmp_path / "out"
        p_in.conf.setdefault("output", {})["path"] = str(out)
        q = p_in.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.line for r in rows) == ["R1", "R2", "R3"]
    assert sorted(r.pk for r in rows) == ["pk-r1", "pk-r2", "pk-r3"]
    assert all(r.shard.startswith("shardId-") for r in rows)


def test_lint_knows_aws_kinesis():
    from bento_spark.plans.lint import known_inputs

    assert "aws_kinesis" in known_inputs()
