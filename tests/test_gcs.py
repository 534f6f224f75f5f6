"""GCS connector: JSON-API client with the service-account OAuth chain
(streaming/gcs.py) against MiniGcsServer — assertion verification,
listing pagination, collision modes, the cache backend, and the YAML
input/output pipelines."""

from __future__ import annotations

import json
import shutil
import subprocess
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.gcs import (
    GcsClient,
    MiniGcsServer,
    ObjectExistsError,
    gcs_bridge,
)
from bento_spark.streaming.spool import entries

_OPENSSL = shutil.which("openssl")


@pytest.fixture()
def server():
    s = MiniGcsServer(page_size=5).start()
    s.create_bucket("b")
    yield s
    s.stop()


def test_list_pagination_and_prefix(server):
    for i in range(12):
        server.put("b", f"logs/f{i:02d}.json", b"{}")
    server.put("b", "other/x.json", b"{}")
    c = GcsClient(server.endpoint)
    items = c.list_objects("b", prefix="logs/")
    assert len(items) == 12  # stitched across 3 pages of 5
    assert items[0]["name"] == "logs/f00.json"
    assert c.get_object("b", "logs/f00.json") == b"{}"
    assert c.get_object("b", "missing") is None
    assert c.stat_object("b", "other/x.json")["contentType"] == "text/plain"


def test_collision_modes(server):
    c = GcsClient(server.endpoint)
    c.write_with_collision_mode("b", "o", b"v1", "overwrite", "text/plain")
    c.write_with_collision_mode("b", "o", b"v2", "overwrite", "text/plain")
    assert c.get_object("b", "o") == b"v2"
    with pytest.raises(ObjectExistsError):
        c.write_with_collision_mode("b", "o", b"v3", "error-if-exists",
                                    "text/plain")
    c.write_with_collision_mode("b", "o", b"v3", "ignore", "text/plain")
    assert c.get_object("b", "o") == b"v2"  # ignored
    c.write_with_collision_mode("b", "o", b"+tail", "append", "text/plain")
    assert c.get_object("b", "o") == b"v2+tail"
    with pytest.raises(ValueError, match="collision_mode"):
        c.write_with_collision_mode("b", "o", b"x", "merge", "text/plain")


def test_oauth_chain(server, tmp_path):
    if _OPENSSL is None:
        pytest.skip("openssl binary unavailable")
    subprocess.run([_OPENSSL, "genrsa", "-out", "sa.pem", "2048"],
                   capture_output=True, cwd=tmp_path, check=True)
    subprocess.run([_OPENSSL, "rsa", "-in", "sa.pem", "-pubout", "-out",
                    "sa_pub.pem"], capture_output=True, cwd=tmp_path,
                   check=True)
    priv = (tmp_path / "sa.pem").read_text()
    pub = (tmp_path / "sa_pub.pem").read_text()
    server.service_accounts["svc@p.iam.gserviceaccount.com"] = pub
    # unauthenticated now rejected
    with pytest.raises(ConnectionError, match="401"):
        GcsClient(server.endpoint).list_objects("b")
    creds = {"client_email": "svc@p.iam.gserviceaccount.com",
             "private_key": priv, "token_uri": server.token_uri}
    c = GcsClient(server.endpoint, credentials=creds)
    server.put("b", "k", b"authed")
    assert c.get_object("b", "k") == b"authed"
    # wrong signer rejected at the token endpoint
    subprocess.run([_OPENSSL, "genrsa", "-out", "other.pem", "2048"],
                   capture_output=True, cwd=tmp_path, check=True)
    bad = {"client_email": "svc@p.iam.gserviceaccount.com",
           "private_key": (tmp_path / "other.pem").read_text(),
           "token_uri": server.token_uri}
    with pytest.raises(ConnectionError, match="token.*401|401"):
        GcsClient(server.endpoint, credentials=bad).list_objects("b")


def test_spooler_delete_objects(server, tmp_path):
    server.put("b", "in/a.json", b'{"v": 1}')
    server.put("b", "in/b.json", b'{"v": 2}')
    server.put("b", "keep/c.json", b'{"v": 3}')
    spool = tmp_path / "spool"
    sp = gcs_bridge(endpoint=server.endpoint, bucket="b",
                    spool_dir=str(spool), prefix="in/",
                    delete_objects=True).start()
    assert sp.wait_finished(30)
    sp.stop()
    assert sorted(meta["gcs_key"] for meta, _ in entries(spool)) == ["in/a.json", "in/b.json"]
    assert sorted(server.buckets["b"]) == ["keep/c.json"]


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_gcs_input_end_to_end(spark, server, tmp_path):
    server.put("b", "drop/one.txt", b"warm", content_type="text/plain")
    server.put("b", "drop/two.txt", b"cold", content_type="text/plain")
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  gcp_cloud_storage:
    endpoint: {server.endpoint}
    bucket: b
    prefix: drop/
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.key = this.gcs_key
        root.ctype = this.gcs_content_type
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        assert sp.wait_finished(30)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        (r.key, r.body, r.ctype)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("drop/one.txt", "WARM", "text/plain"),
                    ("drop/two.txt", "COLD", "text/plain")]


def test_yaml_gcs_output_and_cache(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": "r1", "v": 5}\n{"id": "r2", "v": 9}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "id STRING, v BIGINT"
output:
  gcp_cloud_storage:
    endpoint: {server.endpoint}
    bucket: b
    path: out/${{! this.id }}.json
    content_type: application/json
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len([k for k in server.buckets["b"] if k.startswith("out/")]) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    assert json.loads(server.buckets["b"]["out/r1.json"][0])["v"] == 5
    assert json.loads(server.buckets["b"]["out/r2.json"][0])["v"] == 9

    # cache backend over the same service: set in one batch pipeline, get
    # in a second (cross-invocation persistence, cache_cloud_storage.go)
    pq = tmp_path / "cache_src"
    spark.createDataFrame([("r1", "alpha"), ("r2", "beta")],
                          "k string, name string").write.parquet(str(pq))
    resources = f"""
cache_resources:
  - label: gbucket
    gcp_cloud_storage:
      endpoint: {server.endpoint}
      bucket: b
"""
    setter = compile_yaml(f"""
input:
  parquet: {{path: {pq}}}
{resources}
pipeline:
  processors:
    - cache: {{resource: gbucket, operator: set, key: k, columns: [name]}}
""")
    setter.build_batch(spark)
    getter = compile_yaml(f"""
input:
  parquet: {{path: {pq}}}
{resources}
pipeline:
  processors:
    - cache: {{resource: gbucket, operator: get, key: k}}
""")
    got = sorted((r.k, r.value) for r in getter.build_batch(spark).collect())
    assert got == [("r1", "alpha"), ("r2", "beta")]
    assert server.buckets["b"]["r1"][0] == b"alpha"


def test_lint_knows_gcs():
    from bento_spark.plans.lint import known_inputs

    assert "gcp_cloud_storage" in known_inputs()
