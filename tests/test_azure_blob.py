"""Azure Blob Storage connector (reference internal/impl/azure/
input_blob_storage.go, output_blob_storage.go): SharedKey signing,
REST client, listing spooler, per-message Put Blob output, YAML wiring —
against the signature-verifying MiniAzureBlobServer."""

from __future__ import annotations

import json

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.inputs import read_input
from bento_spark.streaming.azure_blob import (
    AzureBlobClient,
    BlobNotFoundError,
    MiniAzureBlobServer,
    azure_blob_bridge,
    shared_key_signature,
    shared_key_string_to_sign,
)


@pytest.fixture()
def server():
    s = MiniAzureBlobServer().start()
    s.create_container("ctr")
    yield s
    s.stop()


def _client(server):
    return AzureBlobClient(server.endpoint, server.account, server.account_key)


def test_shared_key_recipe_shape():
    """The canonical form pins the published recipe's structure: 12
    standard-header lines, sorted x-ms-* headers, then the resource with
    sorted lowercase query params on separate lines."""
    sts = shared_key_string_to_sign(
        "GET", "/ctr", [("comp", "list"), ("restype", "container")],
        {"x-ms-date": "Tue, 18 Aug 2026 00:00:00 GMT",
         "x-ms-version": "2021-08-06", "Content-Length": "0"},
        "acct")
    lines = sts.split("\n")
    assert lines[0] == "GET"
    assert lines[3] == ""  # zero content-length signs as empty
    assert lines[12] == "x-ms-date:Tue, 18 Aug 2026 00:00:00 GMT"
    assert lines[13] == "x-ms-version:2021-08-06"
    assert lines[14] == "/acct/ctr"
    assert lines[15] == "comp:list" and lines[16] == "restype:container"
    # deterministic signature for a fixed key
    sig = shared_key_signature(sts, "bWluaS1henVyZS1ibG9iLXRlc3Qta2V5")
    assert sig == shared_key_signature(sts, "bWluaS1henVyZS1ibG9iLXRlc3Qta2V5")


def test_put_get_delete_head(server):
    c = _client(server)
    c.put_blob("ctr", "dir/a.txt", b"hello", content_type="text/plain")
    body, headers = c.get_blob("ctr", "dir/a.txt")
    assert body == b"hello" and headers["content-type"] == "text/plain"
    assert c.exists("ctr", "dir/a.txt")
    c.delete_blob("ctr", "dir/a.txt")
    assert not c.exists("ctr", "dir/a.txt")
    with pytest.raises(BlobNotFoundError):
        c.get_blob("ctr", "dir/a.txt")


def test_bad_key_rejected(server):
    import base64

    bad = AzureBlobClient(server.endpoint, server.account,
                          base64.b64encode(b"wrong").decode())
    with pytest.raises(ConnectionError, match="403"):
        bad.put_blob("ctr", "k", b"v")


def test_list_blobs_prefix_and_pagination(server):
    c = _client(server)
    for i in range(5):
        c.put_blob("ctr", f"logs/{i:03d}.txt", b"x")
    c.put_blob("ctr", "other.txt", b"y")
    got = c.list_blobs("ctr", prefix="logs/", page_size=2)  # 3 pages
    assert got == [f"logs/{i:03d}.txt" for i in range(5)]


def test_listing_spooler_to_stream(server, spark, tmp_path):
    c = _client(server)
    c.put_blob("ctr", "in/a.json", b'{"n": 1}')
    c.put_blob("ctr", "in/empty.json", b"")  # 0-byte blob must survive
    spool = str(tmp_path / "spool")
    sp = azure_blob_bridge(endpoint=server.endpoint, account=server.account,
                          account_key=server.account_key, container="ctr",
                          spool_dir=spool, prefix="in/").start()
    try:
        assert sp.wait_finished(20) and sp.error is None
    finally:
        sp.stop()
    df = read_input(spark, {"azure_blob_storage": {"spool_dir": spool}}, True)
    q = (df.writeStream.format("memory").queryName("azblob_e2e")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = spark.sql("select blob_storage_container, blob_storage_key, value "
                     "from azblob_e2e order by blob_storage_key").collect()
    assert [(r.blob_storage_key, r.value) for r in rows] == [
        ("in/a.json", '{"n": 1}'), ("in/empty.json", "")]
    assert all(r.blob_storage_container == "ctr" for r in rows)


def test_yaml_output_interpolated_path(server, spark, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame([(1, "alpha"), (2, "beta")],
                          "id int, name string").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}, schema: 'id int, name string'}}
pipeline:
  processors:
    - mapping: |
        root.id = this.id
        root.name = this.name.uppercase()
output:
  azure_blob_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    container: ctr
    path: 'out/${{! this.id }}.json'
    content_type: application/json
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    assert server.names("ctr") == ["out/1.json", "out/2.json"]
    assert json.loads(server.blob("ctr", "out/1.json")) == {
        "id": 1, "name": "ALPHA"}


def test_yaml_input_stream(server, spark, tmp_path):
    c = _client(server)
    for i in range(3):
        c.put_blob("ctr", f"in/{i}.txt", f"line-{i}".encode())
    spool = tmp_path / "spool"
    p = compile_yaml(f"""
input:
  azure_blob_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    container: ctr
    prefix: in/
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.key = this.blob_storage_key
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
