"""`hdfs` connector over the WebHDFS REST API (reference
internal/impl/hdfs/input.go + output.go; the wire contract is the public
Hadoop WebHDFS spec — LISTSTATUS/OPEN/two-step CREATE/MKDIRS with
user.name simple auth), against an in-process MiniWebHdfsServer."""

from __future__ import annotations

import json

import pytest

from bento_spark.plans.compiler import Pipeline, compile_yaml
from bento_spark.streaming.hdfs import (
    MiniWebHdfsServer,
    WebHdfsClient,
    hdfs_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def srv():
    s = MiniWebHdfsServer().start()
    yield s
    s.stop()


# ------------------------------------------------------------------ client


def test_create_is_two_step_and_roundtrips(srv):
    c = WebHdfsClient(f"{srv.host}:{srv.port}", user="ada")
    c.mkdirs("/data/in")
    c.create("/data/in/a.json", b'{"x":1}')
    assert c.open("/data/in/a.json") == b'{"x":1}'
    sts = c.list_status("/data/in")
    assert [(s["pathSuffix"], s["type"]) for s in sts] == [("a.json", "FILE")]


def test_overwrite_false_rejected(srv):
    c = WebHdfsClient(srv.endpoint, user="ada")
    c.mkdirs("/d")
    c.create("/d/f", b"one")
    with pytest.raises(ConnectionError, match="already exists"):
        c.create("/d/f", b"two", overwrite=False)
    assert c.open("/d/f") == b"one"


def test_missing_user_name_is_rejected(srv):
    import http.client

    conn = http.client.HTTPConnection(srv.host, srv.port, timeout=5)
    conn.request("GET", "/webhdfs/v1/d?op=LISTSTATUS")
    assert conn.getresponse().status == 401
    conn.close()


def test_host_failover(srv):
    # first host is a dead port; the client fails over in order
    c = WebHdfsClient(["127.0.0.1:1", f"{srv.host}:{srv.port}"], user="u",
                      timeout=0.5)
    c.mkdirs("/fo")
    c.create("/fo/x", b"ok")
    assert c.open("/fo/x") == b"ok"


def test_open_missing_raises_remote_message(srv):
    c = WebHdfsClient(srv.endpoint, user="u")
    with pytest.raises(ConnectionError, match="not found"):
        c.open("/nope")


# ----------------------------------------------------------------- spooler


def test_spooler_one_listing_pass(srv, tmp_path):
    c = WebHdfsClient(srv.endpoint, user="u")
    c.mkdirs("/in")
    for i in range(3):
        c.create(f"/in/f{i}.txt", f"body-{i}".encode())
    sp = hdfs_bridge(hosts=srv.endpoint, user="u", directory="/in",
                     spool_dir=str(tmp_path / "spool")).start()
    sp.wait_finished(15)
    assert sp.finished
    msgs = entries(tmp_path / "spool")
    assert len(msgs) == 3
    assert sorted(body for _, body in msgs) == [b"body-0", b"body-1", b"body-2"]


def test_spooler_surfaces_listing_error(tmp_path, srv):
    sp = hdfs_bridge(hosts=srv.endpoint, user="u", directory="/absent",
                     spool_dir=str(tmp_path / "spool")).start()
    with pytest.raises(RuntimeError, match="hdfs input"):
        sp.wait_finished(15)


# -------------------------------------------------------------------- YAML


def test_yaml_hdfs_roundtrip(spark, srv, tmp_path):
    # output side: clips -> one file per message at interpolated path
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 4)
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.clip_id
output:
  hdfs:
    host: {srv.host}:{srv.port}
    user: writer
    directory: /out/clips
    path: ${{! this.clip_id }}.json
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination(90)
    ids = [f"clip-{i:012d}" for i in range(4)]
    assert sorted(srv.files) == [f"/out/clips/{cid}.json" for cid in ids]
    assert json.loads(srv.files[f"/out/clips/{ids[2]}.json"])["clip_id"] == ids[2]

    # input side: consume those files back as messages
    p2 = compile_yaml(f"""
input:
  hdfs:
    host: {srv.host}:{srv.port}
    user: reader
    directory: /out/clips
    spool_dir: {tmp_path / "spool2"}
pipeline:
  processors:
    - mapping: |
        root.clip_id = this.value.parse_json("clip_id string").clip_id
        root.path = this.hdfs_path
output:
  path: {tmp_path / "sink2"}
""")
    consumer = p2.start_bridge()
    try:
        consumer.wait_finished(20)
        q2 = p2.run_stream(spark, checkpoint=str(tmp_path / "ck2"))
        q2.awaitTermination(90)
    finally:
        consumer.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = IdempotentParquetSink(str(tmp_path / "sink2")).read(spark).collect()
    assert sorted(r.clip_id for r in rows) == ids
    assert sorted(r.path for r in rows) == [f"{cid}.json" for cid in ids]
