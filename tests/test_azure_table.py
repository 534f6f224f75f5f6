"""Azure Table Storage connector: SharedKey (Table flavor) REST client
(streaming/azure_table.py) against the signature-verifying
MiniAzureTableServer — StringToSign shape, transaction_type matrix,
OData filter/select/pagination, spool-bridge input with
table_storage_name/row_num metadata, and the interpolated-key output."""

from __future__ import annotations

import base64
import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.azure_table import (
    AzureTableClient,
    EntityConflictError,
    EntityNotFoundError,
    MiniAzureTableServer,
    eval_odata_filter,
    stringify_properties,
    table_signature,
    table_string_to_sign,
)


@pytest.fixture()
def server():
    s = MiniAzureTableServer().start()
    yield s
    s.stop()


@pytest.fixture()
def client(server):
    return AzureTableClient(server.endpoint, server.account, server.account_key)


# ---------------------------------------------------------------------------
# signing + helpers
# ---------------------------------------------------------------------------


def test_table_string_to_sign_shape():
    """The Table-service recipe: VERB, Content-MD5, Content-Type, Date,
    /account/path — and x-ms-date takes the Date slot when present."""
    sts = table_string_to_sign(
        "GET", "/people()",
        {"x-ms-date": "Mon, 01 Jan 2024 00:00:00 GMT",
         "Content-Type": "application/json"},
        "acct")
    assert sts == ("GET\n\napplication/json\n"
                   "Mon, 01 Jan 2024 00:00:00 GMT\n/acct/people()")


def test_signature_is_hmac_sha256_of_b64_key():
    import hashlib
    import hmac as _hmac

    key = base64.b64encode(b"k").decode()
    sig = table_signature("abc", key)
    want = base64.b64encode(
        _hmac.new(b"k", b"abc", hashlib.sha256).digest()).decode()
    assert sig == want


def test_stringify_properties_contract():
    # output_table_storage.go docs: numbers/objects/arrays store as strings
    got = stringify_properties(
        {"foo": 55, "bar": {"baz": "a"}, "diz": ["a", "b"], "s": "x",
         "b": True, "n": None})
    assert got["foo"] == "55"
    assert json.loads(got["bar"]) == {"baz": "a"}
    assert json.loads(got["diz"]) == ["a", "b"]
    assert got["s"] == "x" and got["b"] == "true" and got["n"] == ""


def test_eval_odata_filter():
    e = {"PartitionKey": "foo", "RowKey": "1500", "n": 7}
    assert eval_odata_filter("PartitionKey eq 'foo' and RowKey gt '1000'", e)
    assert not eval_odata_filter("PartitionKey ne 'foo'", e)
    assert eval_odata_filter("n ge 7", e)
    assert not eval_odata_filter("n lt 7", e)
    assert eval_odata_filter("", e)
    with pytest.raises(ValueError):
        eval_odata_filter("PartitionKey like 'x'", e)


# ---------------------------------------------------------------------------
# client <-> service
# ---------------------------------------------------------------------------


def test_bad_key_rejected(server):
    bad = AzureTableClient(server.endpoint, server.account,
                           base64.b64encode(b"wrong").decode())
    with pytest.raises(ConnectionError, match="403"):
        bad.create_table("t")


def test_transaction_type_matrix(client, server):
    client.create_table("ops")
    client.create_table("ops")  # 409 tolerated (auto-create contract)
    e = {"PartitionKey": "p", "RowKey": "r", "v": "1"}
    client.apply("INSERT", "ops", e)
    with pytest.raises(EntityConflictError):
        client.apply("INSERT", "ops", e)
    client.apply("INSERT_MERGE", "ops", {"PartitionKey": "p", "RowKey": "r",
                                         "extra": "m"})
    got = server.tables["ops"][("p", "r")]
    assert got["v"] == "1" and got["extra"] == "m"  # merge keeps old fields
    client.apply("INSERT_REPLACE", "ops", {"PartitionKey": "p", "RowKey": "r",
                                           "only": "x"})
    got = server.tables["ops"][("p", "r")]
    assert "v" not in got and got["only"] == "x"  # replace drops old fields
    client.apply("UPDATE_MERGE", "ops", {"PartitionKey": "p", "RowKey": "r",
                                         "upd": "y"})
    assert server.tables["ops"][("p", "r")]["upd"] == "y"
    with pytest.raises(EntityNotFoundError):
        client.apply("UPDATE_REPLACE", "ops", {"PartitionKey": "p",
                                               "RowKey": "absent"})
    client.apply("DELETE", "ops", {"PartitionKey": "p", "RowKey": "r"})
    assert ("p", "r") not in server.tables["ops"]
    with pytest.raises(EntityNotFoundError):
        client.apply("DELETE", "ops", {"PartitionKey": "p", "RowKey": "r"})
    with pytest.raises(ValueError, match="transaction_type"):
        client.apply("UPSERT", "ops", e)


def test_quote_escaping_in_entity_path(client, server):
    client.create_table("q")
    client.apply("INSERT", "q", {"PartitionKey": "o'brien", "RowKey": "r'1"})
    assert ("o'brien", "r'1") in server.tables["q"]
    client.apply("DELETE", "q", {"PartitionKey": "o'brien", "RowKey": "r'1"})
    assert ("o'brien", "r'1") not in server.tables["q"]


def test_query_filter_select_pagination(client):
    client.create_table("people")
    for i in range(25):
        client.apply("INSERT", "people", {
            "PartitionKey": "grp", "RowKey": f"{i:03d}",
            "name": f"n{i}", "age": str(20 + i)})
    # pagination smaller than the result set exercises continuation
    rows = list(client.query("people", page_size=7))
    assert len(rows) == 25
    assert [r["RowKey"] for r in rows] == [f"{i:03d}" for i in range(25)]
    # filter + select
    rows = list(client.query(
        "people", filter="RowKey ge '020'", select="RowKey,name", page_size=4))
    assert [r["RowKey"] for r in rows] == ["020", "021", "022", "023", "024"]
    assert all(set(r) == {"RowKey", "name"} for r in rows)
    with pytest.raises(EntityNotFoundError):
        list(client.query("missing_table"))


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_table_input_end_to_end(spark, server, tmp_path):
    client = AzureTableClient(server.endpoint, server.account,
                              server.account_key)
    client.create_table("readings")
    for i in range(4):
        client.apply("INSERT", "readings", {
            "PartitionKey": "sensors", "RowKey": f"r{i}",
            "temp": str(10 * i), "site": "berlin" if i % 2 else "oslo"})
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  azure_table_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    table_name: readings
    filter: "site eq 'oslo'"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.row = this.value.parse_json("RowKey string, temp string").RowKey
        root.temp = this.value.parse_json("RowKey string, temp string").temp.number()
        root.source = this.table_storage_name
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
        (r.row, r.temp, r.source)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("r0", 0.0, "readings"), ("r2", 20.0, "readings")]


def test_yaml_table_output_end_to_end(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"device": "d1", "reading": 5, "tags": ["a"]}\n'
        '{"device": "d2", "reading": 9, "tags": ["b", "c"]}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "device STRING, reading BIGINT, tags ARRAY<STRING>"
output:
  azure_table_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    table_name: telemetry
    partition_key: ${{! this.device }}
    row_key: row-${{! this.reading }}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(server.tables.get("telemetry", {})) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    e1 = server.tables["telemetry"][("d1", "row-5")]
    assert e1["device"] == "d1"
    assert e1["reading"] == "5"  # numbers stringify per the contract
    assert json.loads(e1["tags"]) == ["a"]
    e2 = server.tables["telemetry"][("d2", "row-9")]
    assert json.loads(e2["tags"]) == ["b", "c"]


def test_yaml_table_output_explicit_properties(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"device": "d9", "reading": 3}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "device STRING, reading BIGINT"
output:
  azure_table_storage:
    endpoint: {server.endpoint}
    storage_account: {server.account}
    storage_access_key: {server.account_key}
    table_name: narrow
    partition_key: fixed
    row_key: ${{! this.device }}
    transaction_type: INSERT_REPLACE
    properties:
      only_field: ${{! this.reading }}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_props"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while len(server.tables.get("narrow", {})) < 1:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    e = server.tables["narrow"][("fixed", "d9")]
    # explicit properties REPLACE the all-fields default
    assert e["only_field"] == "3"
    assert "device" not in e and "reading" not in e


def test_lint_knows_azure_table():
    from bento_spark.plans.lint import known_inputs

    assert "azure_table_storage" in known_inputs()
