"""CosmosDB connector: master-key REST client (streaming/cosmosdb.py)
against the token-verifying MiniCosmosServer — auth recipe, CRUD + Patch
matrix, parametrized query with continuation, spool-bridge input, the
per-row processor (out/error contract), and the document output."""

from __future__ import annotations

import base64
import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.cosmosdb import (
    CosmosClient,
    DocumentConflictError,
    DocumentNotFoundError,
    MiniCosmosServer,
    master_key_token,
    parse_connection_string,
    parse_pk_mapping,
)


@pytest.fixture()
def server():
    s = MiniCosmosServer().start()
    yield s
    s.stop()


@pytest.fixture()
def client(server):
    return CosmosClient(server.endpoint, server.account_key)


# ---------------------------------------------------------------------------
# auth + helpers
# ---------------------------------------------------------------------------


def test_master_key_token_recipe():
    """The published recipe: lowercase verb/resourceType + resourceLink +
    LOWERCASED date, newline-terminated with a trailing blank line,
    HMAC-SHA256 with the base64-decoded key, URL-encoded token."""
    import hashlib
    import hmac as _hmac
    import urllib.parse

    key = base64.b64encode(b"secret").decode()
    date = "Mon, 01 Jan 2024 00:00:00 GMT"
    tok = master_key_token("GET", "docs", "dbs/d/colls/c/docs/x", date, key)
    payload = f"get\ndocs\ndbs/d/colls/c/docs/x\n{date.lower()}\n\n"
    sig = base64.b64encode(
        _hmac.new(b"secret", payload.encode(), hashlib.sha256).digest()
    ).decode()
    assert tok == urllib.parse.quote(f"type=master&ver=1.0&sig={sig}", safe="")


def test_parse_connection_string():
    ep, key = parse_connection_string(
        "AccountEndpoint=https://localhost:8081/;AccountKey=abc==;")
    assert ep == "https://localhost:8081"
    assert key == "abc=="


def test_parse_pk_mapping():
    assert parse_pk_mapping('root = "blobfish"') == "blobfish"
    assert parse_pk_mapping("root = 41") == 41
    assert parse_pk_mapping("root = true") is True
    assert parse_pk_mapping("root = null") is None
    assert parse_pk_mapping("root = 'single'") == "single"
    with pytest.raises(ValueError):
        parse_pk_mapping("root = this.device")  # non-literal
    with pytest.raises(ValueError):
        parse_pk_mapping("meta x = 1")


def test_bad_key_rejected(server):
    bad = CosmosClient(server.endpoint, base64.b64encode(b"wrong").decode())
    with pytest.raises(ConnectionError, match="401"):
        bad.write("Create", "db", "c", "pk", doc={"id": "1"})


# ---------------------------------------------------------------------------
# CRUD matrix
# ---------------------------------------------------------------------------


def test_crud_matrix(client, server):
    doc = {"id": "d1", "species": "blobfish", "depth": 900}
    client.write("Create", "db", "fish", "abyss", doc=doc)
    with pytest.raises(DocumentConflictError):
        client.write("Create", "db", "fish", "abyss", doc=doc)
    got = client.write("Read", "db", "fish", "abyss", item_id="d1")
    assert got["species"] == "blobfish"
    # partition isolation: same id under another pk is a different doc
    with pytest.raises(DocumentNotFoundError):
        client.write("Read", "db", "fish", "other", item_id="d1")
    client.write("Upsert", "db", "fish", "abyss",
                 doc={"id": "d1", "species": "blobfish", "depth": 1200})
    assert client.write("Read", "db", "fish", "abyss",
                        item_id="d1")["depth"] == 1200
    client.write("Replace", "db", "fish", "abyss",
                 doc={"id": "d1", "only": "x"}, item_id="d1")
    got = client.write("Read", "db", "fish", "abyss", item_id="d1")
    assert "species" not in got and got["only"] == "x"
    client.write("Delete", "db", "fish", "abyss", item_id="d1")
    with pytest.raises(DocumentNotFoundError):
        client.write("Delete", "db", "fish", "abyss", item_id="d1")
    with pytest.raises(ValueError, match="operation"):
        client.write("Merge", "db", "fish", "abyss", doc={})


def test_patch_operations(client):
    client.write("Create", "db", "p", "k",
                 doc={"id": "x", "n": 5, "drop": "me"})
    got = client.write(
        "Patch", "db", "p", "k", item_id="x",
        patch_operations=[
            {"operation": "Set", "path": "/tag", "value": "deep"},
            {"operation": "Increment", "path": "/n", "value": 3},
            {"operation": "Remove", "path": "/drop"},
        ])
    assert got["tag"] == "deep" and got["n"] == 8 and "drop" not in got
    # condition: `not is_defined` fails once the field exists
    with pytest.raises(DocumentConflictError, match="condition"):
        client.write(
            "Patch", "db", "p", "k", item_id="x",
            patch_operations=[{"operation": "Set", "path": "/tag",
                               "value": "other"}],
            patch_condition="from c where not is_defined(c.tag)")


def test_query_params_and_continuation(client):
    for i in range(12):
        client.write("Create", "db", "q", "grp", doc={
            "id": f"i{i:02d}", "rank": i, "kind": "even" if i % 2 == 0 else "odd"})
    rows = list(client.query("db", "q", "grp",
                             "SELECT * FROM c", page_size=5))
    assert len(rows) == 12  # continuation pages stitched
    rows = list(client.query(
        "db", "q", "grp",
        "SELECT * FROM c WHERE c.kind = @kind AND c.rank >= @min",
        parameters=[{"name": "@kind", "value": "odd"},
                    {"name": "@min", "value": 5}], page_size=3))
    assert sorted(r["rank"] for r in rows) == [5, 7, 9, 11]
    # partition isolation
    assert list(client.query("db", "q", "nope", "SELECT * FROM c")) == []


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_cosmos_input_end_to_end(spark, server, tmp_path):
    client = CosmosClient(server.endpoint, server.account_key)
    for i in range(4):
        client.write("Create", "blobbase", "blobfish", "AbyssalPlain", doc={
            "id": f"b{i}", "depth": 100 * i,
            "species": "blobfish" if i % 2 == 0 else "grenadier"})
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  azure_cosmosdb:
    endpoint: {server.endpoint}
    account_key: {server.account_key}
    database: blobbase
    container: blobfish
    partition_keys_map: root = "AbyssalPlain"
    query: SELECT * FROM c WHERE c.species = @species
    args:
      - name: "@species"
        value: blobfish
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.id = this.value.parse_json("id string, depth string").id
        root.depth = this.value.parse_json("id string, depth string").depth.number()
        root.container = this.cosmosdb_container
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
        (r.id, r.depth, r.container)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("b0", 0.0, "blobfish"), ("b2", 200.0, "blobfish")]


def test_yaml_cosmos_processor_read_and_error(spark, server, tmp_path):
    client = CosmosClient(server.endpoint, server.account_key)
    client.write("Create", "db", "lk", "p1",
                 doc={"id": "hit", "color": "pink"})
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"want": "hit"}\n{"want": "miss"}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "want STRING"
pipeline:
  processors:
    - azure_cosmosdb:
        endpoint: {server.endpoint}
        account_key: {server.account_key}
        database: db
        container: lk
        partition_keys_map: root = "p1"
        operation: Read
        item_id: ${{! this.want }}
output:
  path: {tmp_path}/out
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_proc"))
    q.awaitTermination(90)
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = {r.want: (r.cosmosdb, r.error)
            for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()}
    assert json.loads(rows["hit"][0])["color"] == "pink"
    assert rows["hit"][1] is None
    assert rows["miss"][0] is None and "absent" in rows["miss"][1]


def test_yaml_cosmos_output_end_to_end(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": "r1", "site": "oslo", "temp": 4}\n'
        '{"id": "r2", "site": "oslo", "temp": 7}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "id STRING, site STRING, temp BIGINT"
output:
  azure_cosmosdb:
    endpoint: {server.endpoint}
    account_key: {server.account_key}
    database: metrics
    container: readings
    partition_keys_map: root = this.site
    operation: Create
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(server.docs("metrics", "readings")) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    docs = {d["id"]: d for d in server.docs("metrics", "readings")}
    assert docs["r1"]["temp"] == 4 and docs["r2"]["temp"] == 7
    # written under the per-row partition key "oslo"
    client = CosmosClient(server.endpoint, server.account_key)
    got = list(client.query("metrics", "readings", "oslo", "SELECT * FROM c"))
    assert sorted(d["id"] for d in got) == ["r1", "r2"]


def test_lint_knows_cosmosdb():
    from bento_spark.plans.lint import known_inputs

    assert "azure_cosmosdb" in known_inputs()
